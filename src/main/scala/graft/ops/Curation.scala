package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Bands
import graft.core.Numeric.dbl
import graft.core.{Tables => T}

/** Corpus-curation operators — round-7c widening of the declared surface
  * (SURVEY §2.2) past the reference's two-statement scope
  * (`/root/reference/db.cpp:428-441`): exact repeated-substring span
  * detection, asymmetric containment dedup, boilerplate-segment audits,
  * Zipf-law distribution fitting, winsorized robust means, and
  * temperature-scaled multilingual sampling. Same determinism discipline
  * as [[Insights]] (portable md5-48 hashes, exact decimal sums,
  * round-then-cast doubles, total ORDER BY) so every key hash-matches its
  * DuckDB oracle.
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  private def h48(c: Column): Column = graft.expr.Md5Prefix48.md548(c)

  /** EXACT REPEATED-SUBSTRING spans (the token-level "exact substring
    * dedup" of Lee et al. 2022, arXiv:2107.06499 §4.1 — the strongest
    * dedup signal short of byte equality): every 8-token gram occurring in
    * ≥ 2 distinct documents of the planted-variant corpus marks its token
    * interval; overlapping/adjacent intervals merge into maximal repeated
    * SPANS per document, and the report is (doc, n_spans, covered tokens,
    * covered fraction) — the per-doc evidence a pipeline thresholds on to
    * cut boilerplate-heavy or cloned documents.
    *
    * 100 TB shape: gram hashing is a map-side projection over the scan
    * (one md5 per position); the df aggregate shuffles one row per
    * position keyed on the 48-bit gram hash (bounded by corpus token
    * count, the same cost class as every shingle pass here); the
    * repeated-position join rides the same key; span merging is a
    * doc-keyed window — islands by running-max end, the sessionize
    * pattern. Nothing is quadratic: a suffix array's answer, computed
    * with two hash shuffles and a window. */
  val dedupSubstring: Q = (s, d) => {
    val w8 = 8
    val t = LlmPipeline.corpus(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .filter(size(col("l")) >= w8)
    val g = t.select(col("doc_id"), size(col("l")).as("n_toks"), col("l"),
        explode(sequence(lit(1), size(col("l")) - (w8 - 1))).as("i"))
      .select(col("doc_id"), col("n_toks"), col("i"),
        h48(concat_ws(" ", slice(col("l"), col("i"), lit(w8)))).as("gh"))
    val rep = g.join(
      g.groupBy(col("gh")).agg(countDistinct(col("doc_id")).as("dfd"))
        .filter(col("dfd") >= 2).select(col("gh")),
      "gh")
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val isl = rep
      .select(col("doc_id"), col("n_toks"), col("i"),
        (col("i") + (w8 - 1)).as("e"))
      .withColumn("pmax", max(col("e")).over(wPrev))
      .withColumn("brk",
        when(col("pmax").isNull || col("i") > col("pmax") + 1, 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(wOrd))
    isl.groupBy(col("doc_id"), col("n_toks"), col("isl"))
      .agg(min(col("i")).as("st"), max(col("e")).as("en"))
      .groupBy(col("doc_id"), col("n_toks"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("en") - col("st") + 1).as("covered_tokens"))
      .select(col("doc_id"), col("n_spans"),
        col("covered_tokens").cast("long").as("covered_tokens"),
        round(col("covered_tokens").cast("double")
          / col("n_toks").cast("double"), 6).as("covered_frac"))
      .orderBy(col("doc_id"))
  }

  /** ASYMMETRIC CONTAINMENT dedup — [[graft.api.TextDedup.containmentJoin]]
    * on the planted-variant corpus: the truncated variants (last 2 tokens
    * dropped) score containment ≈ 1 against their base documents even
    * where Jaccard would dip below a strict threshold; this is the
    * relation that collapses excerpts and prefix-crawls onto their
    * supersets. Left = variants, right = base corpus, threshold 0.9 on
    * |A∩B|/|A|. Candidate generation is the one-sided pigeonhole prefix
    * (see the API scaladoc); results are byte-identical to the naive
    * quadratic oracle — the same result-invariance proof discipline as
    * `dedup_near`. */
  val dedupContainment: Q = (s, d) => {
    val c = LlmPipeline.corpus(s, d)
    graft.api.TextDedup.containmentJoinSplit(c, "doc_id", "text",
        col("doc_id") % Bands.DocBand >= 200000L, 0.9)
      .select(col("left_id").as("var_id"), col("right_id").as("base_id"),
        col("cont"))
      .orderBy(col("var_id"), col("base_id"))
  }

  /** Planted boilerplate corpus for [[textBoilerplate]]: every 5th
    * document re-crawled behind an 8-token legal header — the
    * site-template wrapper every web corpus carries. */
  private[graft] val BoilerHeader =
    "full terms of service apply all rights reserved"
  private[ops] def boilerCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
    docs.unionByName(docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 300000L).as("doc_id"), col("source"),
        concat(lit(BoilerHeader + " "), col("text")).as("text")))
  }

  /** BOILERPLATE-SEGMENT audit — the CCNet/RefinedWeb template-removal
    * signal: documents segment into non-overlapping 8-token windows; a
    * segment appearing in ≥ 3 distinct documents is boilerplate (site
    * chrome, legal headers), and the report is the per-source density the
    * filter stage thresholds. On the planted corpus exactly the legal
    * header crosses the bar (whole-doc duplicates pair at df = 2); the
    * segment grid is alignment-stable because the header is one full
    * segment wide.
    *
    * 100 TB shape: segmentation is a map-side Generate over the scan
    * (corpus tokens / 8 rows); the df aggregate and the flag join both
    * key on the 48-bit segment hash; the report aggregate moves one row
    * per source. The same two-hash-shuffle bound as [[dedupSubstring]],
    * at 1/8 the row count. */
  val textBoilerplate: Q = (s, d) => {
    val t = boilerCorpus(s, d)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("l"))
      .filter(size(col("l")) >= 8)
    val segs = t.select(col("doc_id"), col("source"),
        explode(sequence(lit(0),
          floor(size(col("l")).cast("double") / 8).cast("int") - 1)).as("k"),
        col("l"))
      .select(col("doc_id"), col("source"),
        h48(concat_ws(" ", slice(col("l"), col("k") * 8 + 1, lit(8)))).as("sh"))
    val dfc = segs.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("dfd"))
    segs.join(dfc, "sh")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("dfd") >= 3, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("source"), col("n_segs"), col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_segs").cast("double"), 6)
          .as("boiler_rate"))
      .orderBy(col("source"))
  }

  /** ZIPF-LAW fit per language — the distributional sanity check run on
    * every new corpus snapshot (natural text slopes ≈ −1; template spam
    * and generated text bend the curve): least-squares slope/intercept of
    * ln(freq) on ln(rank) over each language's top-50 terms.
    *
    * Determinism: term counts are exact; each ln() value rounds to 8
    * decimals THEN casts to DECIMAL(18,10), so all four regression moments
    * are exact 128-bit decimal sums (order-independent — the
    * `agg_entropy` discipline); the closed form runs once per language in
    * double and rounds to 6. The rank window is per-language top-50 —
    * WindowGroupLimit keeps a 50-row heap per map task, so the shuffle
    * after the term-count aggregate carries O(langs · 50) rows. */
  val textZipf: Q = (s, d) => {
    val tc = T.documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("term"))
    val xy = tc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 50)
      .select(col("lang"),
        round(log(col("rk").cast("double")), 8).cast("decimal(18,10)").as("x"),
        round(log(col("cnt").cast("double")), 8).cast("decimal(18,10)").as("y"))
    val m = xy.groupBy(col("lang")).agg(count(lit(1)).as("n_terms"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    val nD = dbl("n_terms")
    val slope = (nD * dbl("sxy") - dbl("sx") * dbl("sy")) /
      (nD * dbl("sxx") - dbl("sx") * dbl("sx"))
    m.select(col("lang"), col("n_terms"),
        round(slope, 6).as("slope"),
        round((dbl("sy") - slope * dbl("sx")) / nD, 6).as("intercept"))
      .orderBy(col("lang"))
  }

  /** WINSORIZED MEAN per order status — the robust location estimate a
    * pricing pipeline reports when the tail is contaminated: values clip
    * to the exact [p05, p95] band before averaging. Percentile bounds use
    * the `agg_percentile` rank-interpolation machinery (row_number ranks,
    * a 4-row pick per group, interpolation rounded to 2); clipping is a
    * map-side projection against the broadcast 3-row bounds table; the
    * mean is an exact DECIMAL(20,8) sum divided once in double. Two
    * passes over the group — the unavoidable floor for exact quantile
    * clipping — with only rank shuffles in between. */
  val aggWinsorize: Q = (s, d) => {
    val o = T.orders(s, d).select(col("o_orderstatus"), col("o_totalprice"))
    val n = o.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice"))
    val ranked = o.withColumn("r", row_number().over(w).cast("long") - 1)
    def h(q: Double) = lit(q) * (col("n") - 1).cast("double")
    val kept = ranked.join(n, "o_orderstatus").filter(
      col("r") === floor(h(0.05)) || col("r") === ceil(h(0.05)) ||
      col("r") === floor(h(0.95)) || col("r") === ceil(h(0.95)))
    val picked = kept.groupBy(col("o_orderstatus"), col("n")).agg(
      max(when(col("r") === floor(h(0.05)), col("o_totalprice"))).as("lo05"),
      max(when(col("r") === ceil(h(0.05)), col("o_totalprice"))).as("hi05"),
      max(when(col("r") === floor(h(0.95)), col("o_totalprice"))).as("lo95"),
      max(when(col("r") === ceil(h(0.95)), col("o_totalprice"))).as("hi95"))
    def interp(lo: Column, hi: Column, q: Double) = {
      val hq = h(q)
      round(lo + (hq - floor(hq)) * (hi - lo), 2)
    }
    val bounds = picked.select(col("o_orderstatus"), col("n"),
      interp(col("lo05"), col("hi05"), 0.05).as("p05"),
      interp(col("lo95"), col("hi95"), 0.95).as("p95"))
    o.join(broadcast(bounds), "o_orderstatus")
      .withColumn("clipped",
        least(greatest(col("o_totalprice"), col("p05")), col("p95")))
      .groupBy(col("o_orderstatus"), col("n"), col("p05"), col("p95"))
      .agg(sum(col("clipped").cast("decimal(20,8)")).as("sw"))
      .select(col("o_orderstatus"), col("n"), col("p05"), col("p95"),
        round(col("sw").cast("double") / col("n").cast("double"), 6)
          .as("win_mean"))
      .orderBy(col("o_orderstatus"))
  }

  /** TEMPERATURE-SCALED multilingual sampling (the mT5/XLM-R mixture
    * rule, arXiv:1910.10683 §3.4.3): language sampling weights are raw
    * shares raised to T = 0.7 and renormalized — upweighting low-resource
    * languages without flattening the mixture — then a 200-document
    * training slice is drawn per the weights with the engine's
    * deterministic hash-gate order (md5-48, id), so the drawn set is a
    * pure row property: stable across engines, partitionings, and reruns.
    *
    * Determinism: the raw share and pow() round to 8 before the weight
    * sum (which is an exact decimal sum); target counts come from one
    * double expression on those rounded inputs (IEEE-deterministic both
    * engines) under floor(). The per-language rank filter is the
    * `sample_balanced` WindowGroupLimit shape — the shuffle carries
    * O(langs · cap) rows, never the corpus. */
  val sampleTemperature: Q = (s, d) => {
    val docs = T.documents(s, d).select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("n_tot"))
    val wts = counts.crossJoin(broadcast(tot))
      .withColumn("wt", round(
        pow(col("n_docs").cast("double") / col("n_tot").cast("double"),
          0.7), 8))
    val wsum = wts.agg(sum(col("wt").cast("decimal(18,8)")).as("ws"))
    val tgt = wts.crossJoin(broadcast(wsum))
      .select(col("lang"), col("n_docs"),
        floor(lit(200.0) * col("wt") / col("ws").cast("double"))
          .cast("long").as("target"))
    val hk = h48(concat(lit("temp:"), col("doc_id").cast("string")))
    val wRank = Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"), hk.as("hk"))
      .withColumn("rk", row_number().over(wRank).cast("long"))
      // constant rank cap first: targets sum to <= 200, so rk <= 200 is a
      // lossless pre-filter that plans as WindowGroupLimit (bounded
      // per-task heaps — the shuffle carries O(langs * 200) rows, never
      // the corpus); the exact per-language cut follows on the survivors
      .filter(col("rk") <= 200)
      .join(broadcast(tgt), "lang")
      .filter(col("rk") <= col("target"))
      .select(col("doc_id"), col("lang"), col("rk"), col("target"))
      .orderBy(col("lang"), col("rk"))
  }

  /** QUANTILE-BUCKET features per order status — the feature-engineering
    * binning stage (equal-population buckets, not `agg_hist`'s fixed-width
    * bands): quartile bounds via the `agg_percentile` rank-interpolation
    * machinery (rounded to 2 so bucket edges are engine-invariant), then
    * a map-side CASE bin against the broadcast 3-bound table and one
    * (status, bucket) aggregate with an exact decimal mean. The shuffle
    * after ranking carries only the 4-row-per-group picks; binning adds
    * zero shuffles. */
  val aggBucketize: Q = (s, d) => {
    val o = T.orders(s, d).select(col("o_orderstatus"), col("o_totalprice"))
    val n = o.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice"))
    val ranked = o.withColumn("r", row_number().over(w).cast("long") - 1)
    def h(q: Double) = lit(q) * (col("n") - 1).cast("double")
    val qs = Seq(0.25, 0.5, 0.75)
    val kept = ranked.join(n, "o_orderstatus").filter(
      qs.map(q => col("r") === floor(h(q)) || col("r") === ceil(h(q)))
        .reduce(_ || _))
    val picked = kept.groupBy(col("o_orderstatus"), col("n")).agg(
      max(when(col("r") === floor(h(0.25)), col("o_totalprice"))).as("lo25"),
      max(when(col("r") === ceil(h(0.25)), col("o_totalprice"))).as("hi25"),
      max(when(col("r") === floor(h(0.5)), col("o_totalprice"))).as("lo50"),
      max(when(col("r") === ceil(h(0.5)), col("o_totalprice"))).as("hi50"),
      max(when(col("r") === floor(h(0.75)), col("o_totalprice"))).as("lo75"),
      max(when(col("r") === ceil(h(0.75)), col("o_totalprice"))).as("hi75"))
    def interp(lo: Column, hi: Column, q: Double) = {
      val hq = h(q)
      round(lo + (hq - floor(hq)) * (hi - lo), 2)
    }
    val bounds = picked.select(col("o_orderstatus"),
      interp(col("lo25"), col("hi25"), 0.25).as("q25"),
      interp(col("lo50"), col("hi50"), 0.5).as("q50"),
      interp(col("lo75"), col("hi75"), 0.75).as("q75"))
    o.join(broadcast(bounds), "o_orderstatus")
      .withColumn("bucket",
        when(col("o_totalprice") < col("q25"), 0L)
          .when(col("o_totalprice") < col("q50"), 1L)
          .when(col("o_totalprice") < col("q75"), 2L)
          .otherwise(3L))
      .groupBy(col("o_orderstatus"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(20,8)")).as("sp"))
      .select(col("o_orderstatus"), col("bucket"), col("n"),
        round(col("sp").cast("double") / col("n").cast("double"), 6)
          .as("mean_price"))
      .orderBy(col("o_orderstatus"), col("bucket"))
  }

  /** CUSUM CHANGEPOINT locator per event type — the level-shift detector
    * that complements `events_anomaly`'s rolling z-score (point outliers):
    * on the daily count series, the day k maximizing |Σ_{i≤k} x_i − k·μ|
    * is the classic cumulative-sum changepoint. Scaling the statistic by
    * n_days keeps EVERYTHING integer — score_k = |n·prefix_k − k·total| —
    * so the argmax is exact and engine-invariant; only the two reported
    * magnitudes divide once in double. One shuffle to the (type, day)
    * grain; the series windows are per-type partitions over ≤ n_days
    * rows. */
  val eventsChangepoint: Q = (s, d) => {
    val daily = T.events(s, d)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wAll = Window.partitionBy(col("event_type"))
    val scored = daily
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("prefix", sum(col("n")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nd", count(lit(1)).over(wAll))
      .withColumn("tot", sum(col("n")).over(wAll))
      .withColumn("score",
        abs(col("nd") * col("prefix") - col("k") * col("tot")))
    val wPick = Window.partitionBy(col("event_type"))
      .orderBy(col("score").desc, col("day"))
    scored.withColumn("rnk", row_number().over(wPick))
      .filter(col("rnk") === 1)
      .select(col("event_type"), col("day").as("cp_day"),
        col("nd").as("n_days"),
        round(col("tot").cast("double") / col("nd").cast("double"), 6)
          .as("mean_daily"),
        round(col("score").cast("double") / col("nd").cast("double"), 6)
          .as("cusum"))
      .orderBy(col("event_type"))
  }

  /** EMBEDDING-SPACE DRIFT monitor — per label, the distance between the
    * centroids of two cohorts (even vs odd vec_id — standing in for two
    * snapshot dates): the number an embedding pipeline alerts on when a
    * re-embed or data shift moves a class. The `embed_centroid` exact
    * micro-unit discipline: floats quantize to integer micro-units,
    * per-(label, dim, cohort) sums are exact BIGINTs, and the squared
    * centroid difference clears denominators — Σ_d (SA_d·nB − SB_d·nA)²
    * in DECIMAL(38,0) — so the comparison never touches a float; the one
    * reported distance divides and roots in double, then rounds. The sum
    * grid is model-sized (labels × 64 × 2 rows); the corpus shuffles
    * once. */
  val embedDrift: Q = (s, d) => {
    val q = T.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        (col("vec_id") % 2 === 0).as("cohort_a"),
        posexplode(expr("transform(embedding," +
          " x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"))
          .as(Seq("dim", "qd")))
    val sums = q.groupBy(col("label"), col("dim")).agg(
      sum(when(col("cohort_a"), col("qd")).otherwise(0L)).as("sa"),
      sum(when(!col("cohort_a"), col("qd")).otherwise(0L)).as("sb"),
      sum(when(col("cohort_a"), 1L).otherwise(0L)).as("na"),
      sum(when(!col("cohort_a"), 1L).otherwise(0L)).as("nb"))
    // the cleared-denominator cross terms must leave 64-bit BEFORE the
    // multiply: sa·nb reaches n²·1e6 ≈ 1e19 at ~3M vectors per label —
    // past Long.MaxValue, where Spark wraps silently (non-ANSI) while
    // DuckDB errors. DECIMAL(38,0) operands keep the arithmetic exact to
    // ~1e38 (ADVICE r7).
    val diff = col("sa").cast("decimal(38,0)") * col("nb") -
      col("sb").cast("decimal(38,0)") * col("na")
    sums
      .select(col("label"), col("na"), col("nb"), (diff * diff).as("dd"))
      .groupBy(col("label"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum(col("dd")).as("d2"))
      .select(col("label"), col("n_a"), col("n_b"),
        round(sqrt(col("d2").cast("double"))
          / (col("n_a") * col("n_b") * 1000000L).cast("double"), 6)
          .as("centroid_dist"))
      .orderBy(col("label"))
  }

  /** Planted code corpus for [[textCodeDetect]]: every 6th document
    * re-crawled as a code snippet — the code/prose separation every LLM
    * corpus runs before choosing a mixture. */
  private[graft] def codeCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d).select(col("doc_id"), col("text"))
    val snippet = concat(
      lit("def fn_"), col("doc_id"), lit("(x): y = x * "),
      col("doc_id") % 7, lit(" ; return y # auto "),
      lit("import os ; print(y)"))
    docs.unionByName(docs.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + 400000L).as("doc_id"), snippet.as("text")))
  }

  /** CODE-vs-PROSE detection — the mixture-separation filter (code is
    * trained at a declared proportion, not at whatever the crawl
    * carries): symbol density (share of (){}[]=;:#* characters) plus
    * keyword hits (def/import/return/print as whole words), flagging
    * docs crossing either bar. Pure per-row scalar projections over the
    * scan — the only shuffle is the declared output sort; at 100 TB this
    * is a free rider on any existing pass. */
  val textCodeDetect: Q = (s, d) => {
    val t = codeCorpus(s, d)
    val nChars = length(col("text"))
    val symbols = nChars -
      length(regexp_replace(col("text"), "[(){}\\[\\]=;:#*]", ""))
    val kw = size(regexp_extract_all(col("text"),
      lit("\\b(def|import|return|print)\\b"), lit(0)))
    t.select(col("doc_id"),
        round(symbols.cast("double") / nChars.cast("double"), 6)
          .as("sym_density"),
        kw.cast("long").as("kw_hits"))
      .filter(col("sym_density") >= 0.04 || col("kw_hits") >= 2)
      .orderBy(col("doc_id"))
  }

  /** 2-D HISTOGRAM grid — the joint-distribution profile (quantity ×
    * discount) a pricing dashboard heat-maps and an optimizer consults
    * for correlated-column selectivity: fixed-width buckets on both axes
    * (quantity / 10, discount / 0.02), count + revenue per cell. Pure
    * map-side double bucketing (both engines floor the SAME IEEE
    * products from the same stored doubles) and ONE grid-keyed aggregate
    * — at 100 TB the shuffle carries |cells| rows. Revenue sums via the
    * exact-decimal [[graft.core.Numeric.dsum]] discipline. */
  val aggHist2d: Q = (s, d) => {
    import graft.core.Numeric.dsum
    T.lineitem(s, d)
      .select(floor(col("l_quantity") / 10.0).cast("long").as("qty_bucket"),
        floor(col("l_discount") * 100.0 / 2.0).cast("long").as("disc_bucket"),
        col("l_extendedprice"))
      .groupBy(col("qty_bucket"), col("disc_bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("qty_bucket"), col("disc_bucket"))
  }

  /** FRESHNESS / staleness audit — the observability query every
    * scheduled pipeline runs before trusting a table: per event stream
    * (type), the last event time, its lag behind the corpus watermark
    * (the global max), and a staleness flag. Lag accumulates in exact
    * MICROSECONDS (the `stream_late_audit` rule — second-truncation
    * diverges between engines) and the flag compares integers. One
    * aggregate to the per-type grain; the watermark is a broadcast
    * scalar. */
  val metaFreshness: Q = (s, d) => {
    val e = T.events(s, d)
    val perType = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
    val wm = perType.agg(max(col("last_ts")).as("wm_ts"))
    perType.crossJoin(broadcast(wm))
      .withColumn("lag_us", unix_micros(col("wm_ts")) - unix_micros(col("last_ts")))
      .select(col("event_type"), col("n_events"), col("last_ts"),
        round(col("lag_us").cast("double") / 60000000.0, 6).as("lag_minutes"),
        (col("lag_us") > 3600000000L).as("stale"))
      .orderBy(col("event_type"))
  }

  /** TIME-TO-CONVERT latency — the funnel's companion metric (how LONG
    * from the last view to the purchase, not just how many convert): per
    * purchase, the latest same-user view in the 2-hour lookback (the
    * `stream_join` interval shape); latencies accumulate in exact
    * MICROSECONDS, and the per-hour-of-day p50/p95 use the
    * `agg_percentile` rank-interpolation machinery. The interval join
    * hash-shuffles on the user key; ranks shuffle the (hour, latency)
    * grid only. */
  val eventsTimeToConvert: Q = (s, d) => {
    val e = T.events(s, d)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("ts").as("view_ts"))
    val lat = p.join(v, col("user_id") === col("v_user_id") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 2 HOUR") &&
        col("view_ts") <= col("purchase_ts"))
      .groupBy(col("purchase_id"), col("purchase_ts"))
      .agg(max(col("view_ts")).as("last_view_ts"))
      .select(hour(col("purchase_ts")).cast("long").as("hod"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("last_view_ts")))
          .as("lat_us"))
    val n = lat.groupBy(col("hod")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("hod")).orderBy(col("lat_us"))
    val ranked = lat.withColumn("r", row_number().over(w).cast("long") - 1)
    def h(q: Double) = lit(q) * (col("n") - 1).cast("double")
    val kept = ranked.join(n, "hod").filter(
      col("r") === floor(h(0.5)) || col("r") === ceil(h(0.5)) ||
      col("r") === floor(h(0.95)) || col("r") === ceil(h(0.95)))
    val picked = kept.groupBy(col("hod"), col("n")).agg(
      max(when(col("r") === floor(h(0.5)), col("lat_us"))).as("lo50"),
      max(when(col("r") === ceil(h(0.5)), col("lat_us"))).as("hi50"),
      max(when(col("r") === floor(h(0.95)), col("lat_us"))).as("lo95"),
      max(when(col("r") === ceil(h(0.95)), col("lat_us"))).as("hi95"))
    def interpMin(lo: Column, hi: Column, q: Double) = {
      val hq = h(q)
      round((lo + (hq - floor(hq)) * (hi - lo)) / 60000000.0, 6)
    }
    picked.select(col("hod"), col("n"),
        interpMin(col("lo50"), col("hi50"), 0.5).as("p50_minutes"),
        interpMin(col("lo95"), col("hi95"), 0.95).as("p95_minutes"))
      .orderBy(col("hod"))
  }

  /** FLESCH READABILITY profile — the curriculum / audience signal text
    * pipelines grade corpora with (simple-wikipedia vs arxiv separates on
    * exactly this number): per doc, words = latin-letter runs, sentences
    * = terminal-punctuation runs (min 1), syllables = vowel-group runs
    * per word (min 1 — the standard heuristic; no dictionary), score =
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), then
    * the corpus rolls up per (source, score band). Both engines run the
    * IDENTICAL regex alphabet ([a-z]+ / [aeiouy]+ / [.!?]+ — literal
    * classes, no engine-specific syntax), per-doc scores round to 4 and
    * aggregate as exact decimals.
    *
    * 100 TB shape: everything per-doc is MAP-SIDE expression work fused
    * into the scan (regex + higher-order aggregate, no UDF); the only
    * shuffle is the (source, band) rollup of partials. */
  val textReadability: Q = (s, d) => {
    val per = T.documents(s, d)
      .withColumn("ws", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .withColumn("nw", greatest(size(col("ws")).cast("long"), lit(1L)))
      .withColumn("ns", greatest(
        expr("size(regexp_extract_all(text, '[.!?]+', 0))").cast("long"),
        lit(1L)))
      .withColumn("nsyl", expr(
        """aggregate(ws, 0L, (a, w) ->
          |  a + greatest(size(regexp_extract_all(w, '[aeiouy]+', 0)), 1))"""
          .stripMargin))
      // per-doc scores quantize to INTEGER 1e-4 units: a fractional
      // round(x, 4) diverges between engines when x·10⁴ sits within an
      // ulp of a .5 tie (BigDecimal-exact vs multiply-divide rounding),
      // and the corpus gives it |docs| chances — the integer round of
      // the same scaled double agrees everywhere (half-away == HALF_UP
      // for every sign)
      .withColumn("score4", round(
        (lit(206.835)
          - lit(1.015) * (col("nw").cast("double") / col("ns").cast("double"))
          - lit(84.6) * (col("nsyl").cast("double") / col("nw").cast("double")))
          * lit(10000.0)).cast("long"))
      .withColumn("band",
        when(col("score4") >= 900000L, "very_easy")
          .when(col("score4") >= 700000L, "easy")
          .when(col("score4") >= 500000L, "medium")
          .when(col("score4") >= 300000L, "hard")
          .otherwise("very_hard"))
    per.groupBy(col("source"), col("band"))
      .agg(count(lit(1)).as("n_docs"),
        (round(sum(col("score4")).cast("double")
          / count(lit(1)).cast("double")).cast("long") / lit(10000.0))
          .as("avg_score"),
        round(sum(col("nsyl")).cast("double")
          / sum(col("nw")).cast("double"), 6).as("syll_per_word"))
      .orderBy(col("source"), col("band"))
  }

  /** NEYMAN-ALLOCATED stratified sample — the statistically OPTIMAL
    * budget split ([[graft.ops.Advanced.aggSalted]]'s cousin
    * `sample_stratified` samples at a FIXED per-stratum rate; Neyman
    * allocation n_h ∝ N_h·σ_h instead concentrates a fixed total budget
    * where the variance lives, the design every survey/eval-set sampler
    * should run): strata = market segments, value = account balance in
    * exact cents; σ_h from exact DECIMAL(38,0) moment sums with ONE
    * double sqrt; weights N_h·σ_h fold to DECIMAL(28,4) so the
    * allocation denominator is an exact sum; membership = the md5
    * hash-rank gate (order by the hex digest, take the allocated count)
    * — deterministic, append-stable, data-derived like
    * [[graft.ops.LlmPipeline]]'s sample_split.
    *
    * 100 TB shape: one stratum-grid moment fold (map-side) + one
    * broadcast of the ≤|strata|-row allocation table + one per-stratum
    * rank window over the gated scan — the rank is the only shuffle and
    * it partitions on the stratum key. */
  val sampleNeyman: Q = (s, d) => {
    val cents = expr("CAST(round(c_acctbal * 100) AS BIGINT)")
    val base = T.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        cents.as("v"))
    val m = base.groupBy(col("seg")).agg(
      count(lit(1)).as("nh"),
      sum(col("v")).as("sx"),
      sum(col("v").cast("decimal(19,0)") * col("v").cast("decimal(19,0)"))
        .as("sxx"))
      .select(col("seg"), col("nh"),
        // sample SD in cents: sqrt((n·Sxx − Sx²)/(n·(n−1))), one sqrt
        sqrt((col("nh").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
          / (col("nh").cast("double") * (col("nh").cast("double") - 1.0)))
          .as("sd_c"))
      .select(col("seg"), col("nh"), col("sd_c"),
        round(col("nh").cast("double") * col("sd_c"), 4)
          .cast("decimal(28,4)").as("w"))
    val tot = m.agg(sum(col("w")).as("wt"))
    val alloc = m.crossJoin(broadcast(tot))
      .select(col("seg"), col("nh"), col("sd_c"),
        expr("CAST(round(150.0 * CAST(w AS DOUBLE) / CAST(wt AS DOUBLE)) " +
          "AS BIGINT)").as("n_alloc"))
    val ranked = base
      .withColumn("hx", md5(col("c_custkey").cast("string")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("seg")).orderBy(col("hx"))))
    ranked.join(broadcast(alloc), Seq("seg"))
      .filter(col("rk") <= col("n_alloc"))
      .groupBy(col("seg"))
      .agg(max(col("nh")).as("n_stratum"),
        max(round(col("sd_c"), 6)).as("sd_cents"),
        max(col("n_alloc")).as("n_alloc"),
        count(lit(1)).as("n_sampled"),
        round(sum(col("v")).cast("double")
          / count(lit(1)).cast("double") / 100.0, 6).as("sample_mean"))
      .orderBy(col("seg"))
  }

  /** TOKEN BURSTINESS (Church & Gale's adaptation signal — the
    * within-document clumping a unigram LM misses): for the top-64
    * corpus tokens, total frequency tf vs document frequency df; burst =
    * tf/df (mean occurrences PER CONTAINING DOC — function words sit
    * near tf/n_docs·(1/share), topical words burst far above 1) and the
    * doc share. The number that separates "frequent because everywhere"
    * from "frequent because obsessively repeated" — the repetition-aware
    * stopword/keyword split a quality pipeline keys on.
    *
    * 100 TB shape: one (doc_id, tok) hash aggregate collapses the corpus
    * (map-side combine), one token aggregate, a 64-row TakeOrdered — the
    * model grid never exceeds the vocabulary. */
  val textBurstiness: Q = (s, d) => {
    val dt = T.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val tg = dt.groupBy(col("tok"))
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("df"))
    val top = tg.orderBy(col("tf").desc, col("tok")).limit(64)
    val nd = T.documents(s, d).agg(count(lit(1)).as("n_docs"))
    top.crossJoin(broadcast(nd))
      .select(col("tok"), col("tf"), col("df"),
        round(col("tf").cast("double") / col("df").cast("double"), 6)
          .as("burst"),
        round(col("df").cast("double") / col("n_docs").cast("double"), 6)
          .as("doc_share"))
      .orderBy(col("burst").desc, col("tok"))
  }

  /** VOCABULARY COVERAGE CURVE — what share of corpus tokens the top-N
    * vocabulary captures, for N ∈ {4, 8, 16} (the tokenizer-budget
    * readout: where this curve flattens is where a vocab stops paying
    * for itself; [[graft.ops.LlmPipeline]]'s text_oov_rate fixes one N
    * and reports the complement per doc — this sweeps N corpus-wide;
    * band values parameterize at production vocab scales): token counts
    * fold once, candidates pre-cut to the top-max(band) tokens via an
    * ordered limit (only they can contribute to any band; every excluded
    * token sorts strictly after every kept one, so in-set strictly-prior
    * ranks equal global ranks — ADVICE r9 killed the |vocab|² variant),
    * then ranks come from a strictly-prior count against the broadcast
    * top grid (the sample_dsir rule — never a partition-less
    * row_number), bands are conditional sums stacked to rows.
    *
    * 100 TB shape: ONE corpus-scale token aggregate; the ordered limit is
    * TakeOrderedAndProject; the rank self-join and band fold run on the
    * max(band)-row grid — constants, not |vocabulary|. */
  val textVocabCoverage: Q = (s, d) => {
    val counts = T.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val top = counts.orderBy(col("c").desc, col("tok")).limit(16)
    val ranked = top
      .join(broadcast(top.select(col("c").as("bc"), col("tok").as("bt"))),
        col("bc") > col("c")
          || (col("bc") === col("c") && col("bt") < col("tok")), "left")
      .groupBy(col("tok"), col("c")).agg((count(col("bt")) + 1L).as("rnk"))
    val tot = counts.agg(sum(col("c")).as("n_tok"),
      count(lit(1)).as("n_vocab"))
    ranked.crossJoin(broadcast(tot))
      .groupBy(col("n_tok"), col("n_vocab"))
      .agg(
        sum(when(col("rnk") <= 4L, col("c")).otherwise(0L)).as("c4"),
        sum(when(col("rnk") <= 8L, col("c")).otherwise(0L)).as("c8"),
        sum(when(col("rnk") <= 16L, col("c")).otherwise(0L)).as("c16"))
      .select(expr("stack(3, 4L, c4, 8L, c8, 16L, c16) AS (band, covered)"),
        col("n_tok"), col("n_vocab"))
      .select(col("band"), col("covered"), col("n_tok"), col("n_vocab"),
        round(col("covered").cast("double") / col("n_tok").cast("double"), 6)
          .as("coverage"))
      .orderBy(col("band"))
  }

  val queries: Map[String, Q] = Map(
    "text_vocab_coverage" -> textVocabCoverage,
    "text_burstiness" -> textBurstiness,
    "sample_neyman" -> sampleNeyman,
    "dedup_substring" -> dedupSubstring,
    "text_readability" -> textReadability,
    "dedup_containment" -> dedupContainment,
    "text_boilerplate" -> textBoilerplate,
    "text_zipf" -> textZipf,
    "agg_winsorize" -> aggWinsorize,
    "sample_temperature" -> sampleTemperature,
    "agg_bucketize" -> aggBucketize,
    "events_changepoint" -> eventsChangepoint,
    "embed_drift" -> embedDrift,
    "text_code_detect" -> textCodeDetect,
    "agg_hist2d" -> aggHist2d,
    "meta_freshness" -> metaFreshness,
    "events_time_to_convert" -> eventsTimeToConvert,
  )

  private def corpusSql: String = LlmPipeline.corpusSql

  val oracles: Map[String, String] = Map(
    // coverage curve: strictly-prior-count ranks on the vocab grid,
    // conditional band sums, three UNION ALL rows (no stack in DuckDB)
    "text_vocab_coverage" ->
      """WITH counts AS (
        |  SELECT tok, COUNT(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok),
        |top AS (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT 16),
        |ranked AS (
        |  SELECT a.tok, a.c, CAST(COUNT(b.tok) + 1 AS BIGINT) AS rnk
        |  FROM top a LEFT JOIN top b
        |    ON b.c > a.c OR (b.c = a.c AND b.tok < a.tok)
        |  GROUP BY a.tok, a.c),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok,
        |    CAST(COUNT(*) AS BIGINT) AS n_vocab FROM counts),
        |bands AS (
        |  SELECT n_tok, n_vocab,
        |    CAST(SUM(CASE WHEN rnk <= 4 THEN c ELSE 0 END) AS BIGINT) AS c4,
        |    CAST(SUM(CASE WHEN rnk <= 8 THEN c ELSE 0 END) AS BIGINT) AS c8,
        |    CAST(SUM(CASE WHEN rnk <= 16 THEN c ELSE 0 END) AS BIGINT) AS c16
        |  FROM ranked CROSS JOIN tot GROUP BY n_tok, n_vocab),
        |stacked AS (
        |  SELECT CAST(4 AS BIGINT) AS band, c4 AS covered, n_tok, n_vocab
        |    FROM bands
        |  UNION ALL
        |  SELECT CAST(8 AS BIGINT), c8, n_tok, n_vocab FROM bands
        |  UNION ALL
        |  SELECT CAST(16 AS BIGINT), c16, n_tok, n_vocab FROM bands)
        |SELECT band, covered, n_tok, n_vocab,
        |  CAST(round(CAST(covered AS DOUBLE) / CAST(n_tok AS DOUBLE), 6)
        |    AS DOUBLE) AS coverage
        |FROM stacked ORDER BY band""".stripMargin,

    // burstiness = tf/df on the bounded top-64 grid; integer counts,
    // two rounded divisions
    "text_burstiness" ->
      """WITH dt AS (
        |  SELECT doc_id, tok, COUNT(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  GROUP BY doc_id, tok),
        |tg AS (
        |  SELECT tok, CAST(SUM(c) AS BIGINT) AS tf,
        |    CAST(COUNT(*) AS BIGINT) AS df
        |  FROM dt GROUP BY tok),
        |top AS (SELECT tok, tf, df FROM tg ORDER BY tf DESC, tok LIMIT 64),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tok, tf, df,
        |  CAST(round(CAST(tf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS DOUBLE)
        |    AS burst,
        |  CAST(round(CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
        |    AS DOUBLE) AS doc_share
        |FROM top CROSS JOIN nd ORDER BY burst DESC, tok""".stripMargin,

    // Neyman allocation: exact decimal moments + md5 hash-rank gate; the
    // hex-digest ORDER BY is engine-portable (same md5, same collation of
    // lowercase hex)
    "sample_neyman" ->
      """WITH base AS (
        |  SELECT c_custkey, c_mktsegment AS seg,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS v
        |  FROM customer),
        |m AS (
        |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS nh, SUM(v) AS sx,
        |    SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS sxx
        |  FROM base GROUP BY seg),
        |sds AS (
        |  SELECT seg, nh,
        |    sqrt((CAST(nh AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      / (CAST(nh AS DOUBLE) * (CAST(nh AS DOUBLE) - 1.0))) AS sd_c
        |  FROM m),
        |ws AS (
        |  SELECT seg, nh, sd_c,
        |    CAST(round(CAST(nh AS DOUBLE) * sd_c, 4) AS DECIMAL(28,4)) AS w
        |  FROM sds),
        |tot AS (SELECT SUM(w) AS wt FROM ws),
        |alloc AS (
        |  SELECT seg, nh, sd_c,
        |    CAST(round(150.0 * CAST(w AS DOUBLE) / CAST(wt AS DOUBLE))
        |      AS BIGINT) AS n_alloc
        |  FROM ws CROSS JOIN tot),
        |ranked AS (
        |  SELECT seg, v,
        |    ROW_NUMBER() OVER (PARTITION BY seg
        |      ORDER BY md5(CAST(c_custkey AS STRING))) AS rk
        |  FROM base)
        |SELECT ranked.seg,
        |  CAST(MAX(nh) AS BIGINT) AS n_stratum,
        |  CAST(MAX(round(sd_c, 6)) AS DOUBLE) AS sd_cents,
        |  CAST(MAX(n_alloc) AS BIGINT) AS n_alloc,
        |  CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |  CAST(round(CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    / 100.0, 6) AS DOUBLE) AS sample_mean
        |FROM ranked JOIN alloc ON ranked.seg = alloc.seg
        |WHERE rk <= n_alloc
        |GROUP BY ranked.seg ORDER BY ranked.seg""".stripMargin,

    // Flesch profile: identical literal regex classes in both engines
    "text_readability" ->
      """WITH per AS (
        |  SELECT source,
        |    regexp_extract_all(lower(text), '[a-z]+') AS ws,
        |    greatest(len(regexp_extract_all(lower(text), '[a-z]+')), 1)
        |      AS nw,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns
        |  FROM documents),
        |syl AS (
        |  SELECT source, nw, ns,
        |    COALESCE(list_sum(list_transform(ws, w ->
        |      greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))), 0)
        |      AS nsyl
        |  FROM per),
        |scored AS (
        |  SELECT source, nw, nsyl,
        |    CAST(round((206.835
        |      - 1.015 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
        |      - 84.6 * (CAST(nsyl AS DOUBLE) / CAST(nw AS DOUBLE)))
        |      * 10000.0) AS BIGINT) AS score4
        |  FROM syl),
        |banded AS (
        |  SELECT source, nw, nsyl, score4,
        |    CASE WHEN score4 >= 900000 THEN 'very_easy'
        |      WHEN score4 >= 700000 THEN 'easy'
        |      WHEN score4 >= 500000 THEN 'medium'
        |      WHEN score4 >= 300000 THEN 'hard'
        |      ELSE 'very_hard' END AS band
        |  FROM scored)
        |SELECT source, band, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(round(CAST(SUM(score4) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) / 10000.0
        |    AS avg_score,
        |  CAST(round(CAST(SUM(nsyl) AS DOUBLE)
        |    / CAST(SUM(nw) AS DOUBLE), 6) AS DOUBLE) AS syll_per_word
        |FROM banded GROUP BY source, band
        |ORDER BY source, band""".stripMargin,

    // data card: per-language profile, dominant source via per-lang rank
    "corpus_card" ->
      """WITH per AS (
        |  SELECT lang, source, n_chars,
        |    len(string_split(text, ' ')) AS toks,
        |    CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) AS ch
        |  FROM documents),
        |base AS (
        |  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens,
        |    SUM(n_chars) AS sum_chars, COUNT(DISTINCT ch) AS n_distinct
        |  FROM per GROUP BY lang),
        |bysrc AS (SELECT lang, source, COUNT(*) AS ns
        |  FROM per GROUP BY lang, source),
        |top AS (
        |  SELECT lang, source AS top_source, ns AS top_source_docs FROM (
        |    SELECT lang, source, ns,
        |      ROW_NUMBER() OVER (PARTITION BY lang
        |        ORDER BY ns DESC, source) AS rk
        |    FROM bysrc)
        |  WHERE rk = 1)
        |SELECT base.lang, n_docs, n_tokens,
        |  CAST(round(CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE), 2)
        |    AS DOUBLE) AS avg_chars,
        |  CAST(round(CAST(n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
        |    AS DOUBLE) AS distinct_frac,
        |  top_source,
        |  CAST(round(CAST(top_source_docs AS DOUBLE) / CAST(n_docs AS DOUBLE),
        |    6) AS DOUBLE) AS top_source_share
        |FROM base JOIN top ON base.lang = top.lang
        |ORDER BY base.lang""".stripMargin,

    // 8-token gram hashes at every position; df over distinct docs;
    // island merge by running-max end (adjacency merges: i <= pmax + 1)
    "dedup_substring" ->
      s"""WITH $corpusSql,
         |tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM corpus
         |        WHERE len(string_split(text, ' ')) >= 8),
         |g AS (SELECT doc_id, len(l) AS n_toks, i,
         |    CAST('0x' || substr(md5(array_to_string(l[i:i+7], ' ')), 1, 12) AS BIGINT) AS gh
         |  FROM tok CROSS JOIN (SELECT unnest(generate_series(1,
         |      (SELECT max(len(l)) FROM tok))) AS i) s
         |  WHERE i <= len(l) - 7),
         |rep AS (SELECT g.doc_id, g.n_toks, g.i, g.i + 7 AS e
         |  FROM g JOIN (SELECT gh FROM g GROUP BY gh
         |               HAVING COUNT(DISTINCT doc_id) >= 2) r USING (gh)),
         |isl AS (SELECT doc_id, n_toks, i, e,
         |    MAX(e) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM rep),
         |brk AS (SELECT doc_id, n_toks, i, e,
         |    CASE WHEN pmax IS NULL OR i > pmax + 1 THEN 1 ELSE 0 END AS b
         |  FROM isl),
         |grp AS (SELECT doc_id, n_toks, i, e,
         |    SUM(b) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS UNBOUNDED PRECEDING) AS isl_id
         |  FROM brk),
         |spans AS (SELECT doc_id, n_toks, isl_id,
         |    MIN(i) AS st, MAX(e) AS en
         |  FROM grp GROUP BY doc_id, n_toks, isl_id)
         |SELECT doc_id, COUNT(*) AS n_spans,
         |  CAST(SUM(en - st + 1) AS BIGINT) AS covered_tokens,
         |  CAST(round(CAST(SUM(en - st + 1) AS DOUBLE)
         |    / CAST(n_toks AS DOUBLE), 6) AS DOUBLE) AS covered_frac
         |FROM spans GROUP BY doc_id, n_toks ORDER BY doc_id""".stripMargin,

    // naive quadratic containment — proves the engine's prefix-filtered
    // candidate generation is result-invariant (the dedup_near discipline)
    "dedup_containment" ->
      s"""WITH $corpusSql,
         |tok AS (SELECT doc_id, string_split(text, ' ') l FROM corpus),
         |ssets AS (SELECT doc_id, list_distinct(${LlmPipeline.shinglesSql}) sset
         |          FROM tok WHERE len(l) >= 3)
         |SELECT sa.doc_id AS var_id, sb.doc_id AS base_id,
         |  CAST(round(CAST(len(list_filter(sa.sset, x -> list_contains(sb.sset, x))) AS DOUBLE)
         |    / CAST(len(sa.sset) AS DOUBLE), 6) AS DOUBLE) AS cont
         |FROM ssets sa JOIN ssets sb
         |  ON sa.doc_id % 252000 >= 200000 AND sb.doc_id % 252000 < 200000
         |WHERE CAST(len(list_filter(sa.sset, x -> list_contains(sb.sset, x))) AS DOUBLE)
         |    / CAST(len(sa.sset) AS DOUBLE) >= 0.9
         |ORDER BY var_id, base_id""".stripMargin,

    // non-overlapping 8-token segments; boilerplate = df >= 3 distinct docs
    "text_boilerplate" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000, source, '$BoilerHeader ' || text
         |  FROM documents WHERE doc_id % 5 = 0),
         |tok AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM corpus
         |        WHERE len(string_split(text, ' ')) >= 8),
         |segs AS (SELECT doc_id, source,
         |    CAST('0x' || substr(md5(array_to_string(l[(k*8+1):(k*8+8)], ' ')), 1, 12) AS BIGINT) AS sh
         |  FROM tok CROSS JOIN (SELECT unnest(generate_series(0,
         |      (SELECT max(len(l)) FROM tok) // 8)) AS k) s
         |  WHERE k <= CAST(floor(CAST(len(l) AS DOUBLE) / 8) AS INT) - 1),
         |dfc AS (SELECT sh, COUNT(DISTINCT doc_id) AS dfd FROM segs GROUP BY sh)
         |SELECT source, COUNT(*) AS n_segs,
         |  CAST(SUM(CASE WHEN dfd >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |  CAST(round(CAST(SUM(CASE WHEN dfd >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS boiler_rate
         |FROM segs JOIN dfc USING (sh) GROUP BY source ORDER BY source""".stripMargin,

    // top-50 terms per language; ln-moments as exact decimals
    "text_zipf" ->
      """WITH tc AS (
        |  SELECT lang, term, COUNT(*) AS cnt
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS term
        |        FROM documents) t
        |  GROUP BY lang, term),
        |top AS (SELECT lang, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rk
        |  FROM tc QUALIFY rk <= 50),
        |xy AS (SELECT lang,
        |    CAST(round(ln(CAST(rk AS DOUBLE)), 8) AS DECIMAL(18,10)) AS x,
        |    CAST(round(ln(CAST(cnt AS DOUBLE)), 8) AS DECIMAL(18,10)) AS y
        |  FROM top),
        |m AS (SELECT lang, COUNT(*) AS n_terms,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*x) AS sxx, SUM(x*y) AS sxy
        |  FROM xy GROUP BY lang)
        |SELECT lang, n_terms,
        |  CAST(round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS DOUBLE) AS slope,
        |  CAST(round((CAST(sy AS DOUBLE)
        |      - ((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |        * CAST(sx AS DOUBLE)) / CAST(n_terms AS DOUBLE), 6) AS DOUBLE)
        |    AS intercept
        |FROM m ORDER BY lang""".stripMargin,

    // rank-interpolated p05/p95 (the agg_percentile spelling), clip, then
    // an exact DECIMAL(20,8) mean
    "agg_winsorize" ->
      """WITH r AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) - 1 AS r,
        |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM orders),
        |picked AS (
        |  SELECT o_orderstatus, n,
        |    MAX(CASE WHEN r = CAST(floor(CAST(0.05 AS DOUBLE) * (n - 1)) AS BIGINT) THEN o_totalprice END) AS lo05,
        |    MAX(CASE WHEN r = CAST(ceil(CAST(0.05 AS DOUBLE) * (n - 1)) AS BIGINT) THEN o_totalprice END) AS hi05,
        |    MAX(CASE WHEN r = CAST(floor(CAST(0.95 AS DOUBLE) * (n - 1)) AS BIGINT) THEN o_totalprice END) AS lo95,
        |    MAX(CASE WHEN r = CAST(ceil(CAST(0.95 AS DOUBLE) * (n - 1)) AS BIGINT) THEN o_totalprice END) AS hi95
        |  FROM r
        |  WHERE r = CAST(floor(CAST(0.05 AS DOUBLE) * (n - 1)) AS BIGINT) OR r = CAST(ceil(CAST(0.05 AS DOUBLE) * (n - 1)) AS BIGINT)
        |     OR r = CAST(floor(CAST(0.95 AS DOUBLE) * (n - 1)) AS BIGINT) OR r = CAST(ceil(CAST(0.95 AS DOUBLE) * (n - 1)) AS BIGINT)
        |  GROUP BY o_orderstatus, n),
        |bounds AS (
        |  SELECT o_orderstatus, n,
        |    round(lo05 + (CAST(0.05 AS DOUBLE) * (n - 1) - floor(CAST(0.05 AS DOUBLE) * (n - 1))) * (hi05 - lo05), 2) AS p05,
        |    round(lo95 + (CAST(0.95 AS DOUBLE) * (n - 1) - floor(CAST(0.95 AS DOUBLE) * (n - 1))) * (hi95 - lo95), 2) AS p95
        |  FROM picked)
        |SELECT o.o_orderstatus, b.n, b.p05, b.p95,
        |  CAST(round(CAST(SUM(CAST(least(greatest(o.o_totalprice, b.p05), b.p95)
        |    AS DECIMAL(20,8))) AS DOUBLE) / CAST(b.n AS DOUBLE), 6) AS DOUBLE) AS win_mean
        |FROM orders o JOIN bounds b ON o.o_orderstatus = b.o_orderstatus
        |GROUP BY o.o_orderstatus, b.n, b.p05, b.p95
        |ORDER BY o.o_orderstatus""".stripMargin,

    // quartile bounds by rank interpolation (double-cast literals), CASE
    // binning, exact decimal bucket means
    "agg_bucketize" ->
      """WITH r AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) - 1 AS r,
        |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM orders),
        |picked AS (
        |  SELECT o_orderstatus, n,
        |    MAX(CASE WHEN r = CAST(floor(CAST(0.25 AS DOUBLE) * (n - 1)) AS BIGINT) THEN o_totalprice END) AS lo25,
        |    MAX(CASE WHEN r = CAST(ceil(CAST(0.25 AS DOUBLE) * (n - 1)) AS BIGINT) THEN o_totalprice END) AS hi25,
        |    MAX(CASE WHEN r = CAST(floor(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT) THEN o_totalprice END) AS lo50,
        |    MAX(CASE WHEN r = CAST(ceil(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT) THEN o_totalprice END) AS hi50,
        |    MAX(CASE WHEN r = CAST(floor(CAST(0.75 AS DOUBLE) * (n - 1)) AS BIGINT) THEN o_totalprice END) AS lo75,
        |    MAX(CASE WHEN r = CAST(ceil(CAST(0.75 AS DOUBLE) * (n - 1)) AS BIGINT) THEN o_totalprice END) AS hi75
        |  FROM r
        |  WHERE r = CAST(floor(CAST(0.25 AS DOUBLE) * (n - 1)) AS BIGINT) OR r = CAST(ceil(CAST(0.25 AS DOUBLE) * (n - 1)) AS BIGINT)
        |     OR r = CAST(floor(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT) OR r = CAST(ceil(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT)
        |     OR r = CAST(floor(CAST(0.75 AS DOUBLE) * (n - 1)) AS BIGINT) OR r = CAST(ceil(CAST(0.75 AS DOUBLE) * (n - 1)) AS BIGINT)
        |  GROUP BY o_orderstatus, n),
        |bounds AS (
        |  SELECT o_orderstatus,
        |    round(lo25 + (CAST(0.25 AS DOUBLE) * (n - 1) - floor(CAST(0.25 AS DOUBLE) * (n - 1))) * (hi25 - lo25), 2) AS q25,
        |    round(lo50 + (CAST(0.5 AS DOUBLE) * (n - 1) - floor(CAST(0.5 AS DOUBLE) * (n - 1))) * (hi50 - lo50), 2) AS q50,
        |    round(lo75 + (CAST(0.75 AS DOUBLE) * (n - 1) - floor(CAST(0.75 AS DOUBLE) * (n - 1))) * (hi75 - lo75), 2) AS q75
        |  FROM picked)
        |SELECT o.o_orderstatus,
        |  CAST(CASE WHEN o.o_totalprice < b.q25 THEN 0
        |            WHEN o.o_totalprice < b.q50 THEN 1
        |            WHEN o.o_totalprice < b.q75 THEN 2 ELSE 3 END AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(round(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(20,8))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS mean_price
        |FROM orders o JOIN bounds b ON o.o_orderstatus = b.o_orderstatus
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // integer CUSUM: score_k = |n*prefix_k - k*total| stays exact; the
    // argmax day is engine-invariant, only reported magnitudes divide
    "events_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |scored AS (
        |  SELECT event_type, day,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k,
        |    SUM(n) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS prefix,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd,
        |    SUM(n) OVER (PARTITION BY event_type) AS tot
        |  FROM daily),
        |best AS (
        |  SELECT event_type, day, nd, tot,
        |    abs(nd * prefix - k * tot) AS score,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY abs(nd * prefix - k * tot) DESC, day) AS rnk
        |  FROM scored)
        |SELECT event_type, day AS cp_day, CAST(nd AS BIGINT) AS n_days,
        |  CAST(round(CAST(tot AS DOUBLE) / CAST(nd AS DOUBLE), 6) AS DOUBLE) AS mean_daily,
        |  CAST(round(CAST(score AS DOUBLE) / CAST(nd AS DOUBLE), 6) AS DOUBLE) AS cusum
        |FROM best WHERE rnk = 1 ORDER BY event_type""".stripMargin,

    // micro-unit cohort sums; squared centroid diff with cleared
    // denominators in DECIMAL(38,0); one double sqrt at the end
    "embed_drift" ->
      """WITH q AS (SELECT vec_id, label, vec_id % 2 = 0 AS cohort_a, i - 1 AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS qd
        |  FROM embeddings, LATERAL
        |    (SELECT unnest(generate_series(1, 64)) AS i) g),
        |sums AS (SELECT label, dim,
        |    CAST(SUM(CASE WHEN cohort_a THEN qd ELSE 0 END) AS BIGINT) AS sa,
        |    CAST(SUM(CASE WHEN NOT cohort_a THEN qd ELSE 0 END) AS BIGINT) AS sb,
        |    CAST(SUM(CASE WHEN cohort_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN NOT cohort_a THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM q GROUP BY label, dim),
        |agg AS (SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
        |    SUM(CAST(sa * nb - sb * na AS DECIMAL(18,0))
        |      * CAST(sa * nb - sb * na AS DECIMAL(18,0))) AS d2
        |  FROM sums GROUP BY label)
        |SELECT label, n_a, n_b,
        |  CAST(round(sqrt(CAST(d2 AS DOUBLE))
        |    / CAST(n_a * n_b * 1000000 AS DOUBLE), 6) AS DOUBLE) AS centroid_dist
        |FROM agg ORDER BY label""".stripMargin,

    // fixed-width joint buckets; both engines floor identical IEEE
    // products; exact decimal revenue
    "agg_hist2d" ->
      s"""SELECT CAST(floor(l_quantity / 10.0) AS BIGINT) AS qty_bucket,
         |  CAST(floor(l_discount * 100.0 / 2.0) AS BIGINT) AS disc_bucket,
         |  COUNT(*) AS n,
         |  ${graft.core.Numeric.dsumSql("l_extendedprice")} AS revenue
         |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // exact-microsecond lag vs the corpus watermark; integer stale flag
    "meta_freshness" ->
      """WITH pt AS (SELECT event_type, COUNT(*) AS n_events, MAX(ts) AS last_ts
        |  FROM events GROUP BY 1),
        |wm AS (SELECT MAX(last_ts) AS wm_ts FROM pt)
        |SELECT event_type, n_events, last_ts,
        |  CAST(round(CAST(epoch_us(wm_ts) - epoch_us(last_ts) AS DOUBLE)
        |    / 60000000.0, 6) AS DOUBLE) AS lag_minutes,
        |  (epoch_us(wm_ts) - epoch_us(last_ts)) > 3600000000 AS stale
        |FROM pt CROSS JOIN wm ORDER BY event_type""".stripMargin,

    // interval-join lookback, exact-us latencies, rank-interpolated
    // per-hour p50/p95 (the agg_percentile spelling)
    "events_time_to_convert" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS v_user_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |lat0 AS (SELECT p.purchase_id, p.purchase_ts, MAX(v.view_ts) AS last_view_ts
        |  FROM p JOIN v ON p.user_id = v.v_user_id
        |    AND v.view_ts >= p.purchase_ts - INTERVAL 2 HOUR
        |    AND v.view_ts <= p.purchase_ts
        |  GROUP BY 1, 2),
        |lat AS (SELECT CAST(extract(hour FROM purchase_ts) AS BIGINT) AS hod,
        |    epoch_us(purchase_ts) - epoch_us(last_view_ts) AS lat_us
        |  FROM lat0),
        |r AS (SELECT hod, lat_us,
        |    ROW_NUMBER() OVER (PARTITION BY hod ORDER BY lat_us) - 1 AS r,
        |    COUNT(*) OVER (PARTITION BY hod) AS n
        |  FROM lat),
        |picked AS (
        |  SELECT hod, n,
        |    MAX(CASE WHEN r = CAST(floor(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT) THEN lat_us END) AS lo50,
        |    MAX(CASE WHEN r = CAST(ceil(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT) THEN lat_us END) AS hi50,
        |    MAX(CASE WHEN r = CAST(floor(CAST(0.95 AS DOUBLE) * (n - 1)) AS BIGINT) THEN lat_us END) AS lo95,
        |    MAX(CASE WHEN r = CAST(ceil(CAST(0.95 AS DOUBLE) * (n - 1)) AS BIGINT) THEN lat_us END) AS hi95
        |  FROM r
        |  WHERE r = CAST(floor(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT) OR r = CAST(ceil(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT)
        |     OR r = CAST(floor(CAST(0.95 AS DOUBLE) * (n - 1)) AS BIGINT) OR r = CAST(ceil(CAST(0.95 AS DOUBLE) * (n - 1)) AS BIGINT)
        |  GROUP BY hod, n)
        |SELECT hod, n,
        |  CAST(round((lo50 + (CAST(0.5 AS DOUBLE) * (n - 1) - floor(CAST(0.5 AS DOUBLE) * (n - 1))) * (hi50 - lo50))
        |    / 60000000.0, 6) AS DOUBLE) AS p50_minutes,
        |  CAST(round((lo95 + (CAST(0.95 AS DOUBLE) * (n - 1) - floor(CAST(0.95 AS DOUBLE) * (n - 1))) * (hi95 - lo95))
        |    / 60000000.0, 6) AS DOUBLE) AS p95_minutes
        |FROM picked ORDER BY hod""".stripMargin,

    // symbol density + whole-word keyword hits over the planted-code corpus
    "text_code_detect" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 400000,
        |    'def fn_' || doc_id || '(x): y = x * ' || (doc_id % 7)
        |      || ' ; return y # auto import os ; print(y)'
        |  FROM documents WHERE doc_id % 6 = 0),
        |scored AS (SELECT doc_id,
        |    CAST(round(CAST(length(text)
        |        - length(regexp_replace(text, '[(){}\[\]=;:#*]', '', 'g')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE), 6) AS DOUBLE) AS sym_density,
        |    CAST(len(regexp_extract_all(text, '\b(def|import|return|print)\b')) AS BIGINT) AS kw_hits
        |  FROM corpus)
        |SELECT doc_id, sym_density, kw_hits FROM scored
        |WHERE sym_density >= 0.04 OR kw_hits >= 2 ORDER BY doc_id""".stripMargin,

    // T=0.7 weights on rounded shares; exact decimal weight sum; floor
    // targets; md5-48 hash-gate order per language
    "sample_temperature" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |tot AS (SELECT SUM(n_docs) AS n_tot FROM c),
        |w AS (SELECT lang, n_docs,
        |    round(pow(CAST(n_docs AS DOUBLE) / CAST(tot.n_tot AS DOUBLE), 0.7), 8) AS wt
        |  FROM c CROSS JOIN tot),
        |ws AS (SELECT SUM(CAST(wt AS DECIMAL(18,8))) AS wsum FROM w),
        |tgt AS (SELECT lang,
        |    CAST(floor(CAST(200.0 AS DOUBLE) * wt / CAST(ws.wsum AS DOUBLE)) AS BIGINT) AS target
        |  FROM w CROSS JOIN ws),
        |ranked AS (SELECT doc_id, lang,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY CAST('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT),
        |        doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |SELECT r.doc_id, r.lang, r.rk, t.target
        |FROM ranked r JOIN tgt t ON r.lang = t.lang
        |WHERE r.rk <= t.target ORDER BY r.lang, r.rk""".stripMargin,
  )
}
