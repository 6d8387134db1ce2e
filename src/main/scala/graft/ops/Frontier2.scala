package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Bands
import graft.core.{Tables => T}

/** Round-11 second operator batch: feature hashing (the hashing-trick
  * vectorizer every sparse-features pipeline starts from), interrupted
  * time-series estimation (the pre/post-intervention causal read next to
  * `events_did`), and CCNet-style perplexity bucketing (the
  * head/middle/tail quality split on top of `text_perplexity`'s per-doc
  * scores). The batch's graph keys (`graph_hits`, `graph_scc`) live in
  * [[Graph]].
  *
  * Reference semantics anchor: statements over scanned tables with
  * engine-invariant arithmetic (`/root/reference/db.cpp:487-502`
  * executeSelect discipline — every declared result is a deterministic
  * function of the stored rows).
  */
object Frontier2 {
  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------ text_feature_hash

  /** Hash-space width for [[textFeatureHash]] — 64 buckets stands in for
    * the 2^18–2^20 of a production HashingVectorizer; small enough that the
    * harness corpus exercises real collisions (31 token types over 64
    * buckets at sf0.001). */
  private val HashDim = 64

  /** FEATURE HASHING (the "hashing trick", Weinberger et al. 2009; the
    * HashingTF / HashingVectorizer op) — the fixed-width sparse featurizer
    * a training pipeline uses when the vocabulary is unbounded: every token
    * maps to bucket `md5_48(term) % D` with NO dictionary, so the feature
    * space is known before the data is read and two shards never disagree
    * on a feature id. The declared result is the bucket-level census the
    * pipeline owner audits before training: per bucket, total token mass,
    * distinct terms sharing the bucket (the collision count — the quantity
    * the D-vs-vocabulary tradeoff is tuned on), distinct documents
    * touching it, and the bucket's share of total token mass. The grid is
    * COMPLETE: all D buckets appear, zero-filled (the cramers_v
    * grid-completion rule), so the result shape is engine- and
    * data-independent.
    *
    * Float discipline: counts are exact integers; the one double is
    * `n_tokens / n_total` — a single IEEE division of two int64s
    * (deliberately unrounded; both casts are exact below 2^53, the same
    * contract as `graph_louvain_pass`'s delta_q).
    *
    * 100 TB shape: THREE bounded aggregates, no unbounded intermediate —
    * token mass is one map-side-combined groupBy onto D rows; the
    * collision census aggregates the DISTINCT TERM table (vocabulary-
    * sized, never the token stream); doc coverage distincts (doc, bucket)
    * — at most D rows per doc — then counts per bucket. The D-row grid and
    * the 1-row total both broadcast. Nothing downstream of the first
    * aggregates is input-sized. */
  val textFeatureHash: Q = (s, d) => {
    val h48 = (c: Column) => graft.expr.Md5Prefix48.md548(c)
    val toks = T.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val hashed = toks.select(col("doc_id"), col("term"),
      (h48(col("term")) % HashDim).as("bucket"))
    val byTok = hashed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val byTerm = toks.select(col("term")).distinct()
      .select((h48(col("term")) % HashDim).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_terms"))
    val byDoc = hashed.select(col("doc_id"), col("bucket")).distinct()
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
    val tot = toks.agg(count(lit(1)).as("n_total"))
    s.range(0, HashDim).select(col("id").as("bucket"))
      .join(byTok, Seq("bucket"), "left")
      .join(byTerm, Seq("bucket"), "left")
      .join(byDoc, Seq("bucket"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bucket"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        (coalesce(col("n_tokens"), lit(0L)).cast("double")
          / col("n_total").cast("double")).as("mass_share"))
      .orderBy(col("bucket"))
  }

  // ------------------------------------------------------------ events_its

  /** INTERRUPTED TIME SERIES (segmented regression; the
    * Wagner et al. 2002 design) — the causal read next to `events_did`
    * when there is NO control group: the daily revenue series per event
    * type splits at the intervention day (the midpoint of the observed
    * range — at deploy time, the feature-launch date), an OLS line fits
    * each segment, and the estimands are the LEVEL SHIFT at the
    * intervention (post-intercept − pre-intercept at x = 0) and the SLOPE
    * CHANGE — the two coefficients an ITS analysis reports.
    *
    * Arithmetic discipline (the `agg_linreg` device): x is the integer
    * day offset from the intervention; y rides exactly in integer cents
    * (the dsum-rounded daily revenue ×100); every regression moment (n,
    * Σx, Σy, Σxy, Σx²) is an int64, int64→double casts are exact, and
    * slope/intercept are one fixed IEEE expression per segment —
    * bit-identical across engines and partition counts, reported
    * deliberately UNROUNDED (the quotients are integer-ratio-fed; a
    * rounding step is the r10 half-way trap, not a determinism gain).
    *
    * 100 TB shape: the corpus folds map-side onto the (type × day) grid
    * (ONE shuffle); the intervention day is a 1-row broadcast; the ten
    * conditional moments ride ONE hash aggregate to the per-type grain.
    * Nothing after the daily fold is input-sized, and there is no
    * per-segment second pass — the CASE-gated moments make both
    * regressions share the single aggregate. */
  val eventsIts: Q = (s, d) => {
    import graft.core.Numeric.dsum
    val daily = T.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("rev"))
    val cut = T.events(s, d)
      .agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
      .select(expr("date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))").as("cut"))
    val base = daily.crossJoin(broadcast(cut))
      .withColumn("x", datediff(col("day"), col("cut")).cast("long"))
      .withColumn("y100",
        (round(col("rev").cast("decimal(28,8)"), 2) * 100).cast("long"))
      .withColumn("post", col("x") >= 0L)
    def seg(p: Column, e: Column) = sum(when(p, e).otherwise(lit(0L)))
    val pre = !col("post")
    val post = col("post")
    val m = base.groupBy(col("event_type")).agg(
      seg(pre, lit(1L)).as("n0"), seg(post, lit(1L)).as("n1"),
      seg(pre, col("x")).as("sx0"), seg(post, col("x")).as("sx1"),
      seg(pre, col("y100")).as("sy0"), seg(post, col("y100")).as("sy1"),
      seg(pre, col("x") * col("y100")).as("sxy0"),
      seg(post, col("x") * col("y100")).as("sxy1"),
      seg(pre, col("x") * col("x")).as("sxx0"),
      seg(post, col("x") * col("x")).as("sxx1"))
      .filter(col("n0") >= 2L && col("n1") >= 2L)
    def fit(n: Column, sx: Column, sy: Column, sxy: Column, sxx: Column) = {
      val nd = n.cast("double"); val sxd = sx.cast("double")
      val syd = sy.cast("double"); val sxyd = sxy.cast("double")
      val sxxd = sxx.cast("double")
      val slope100 = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
      (slope100 / lit(100.0), ((syd - slope100 * sxd) / nd) / lit(100.0))
    }
    val (s0, i0) = fit(col("n0"), col("sx0"), col("sy0"), col("sxy0"), col("sxx0"))
    val (s1, i1) = fit(col("n1"), col("sx1"), col("sy1"), col("sxy1"), col("sxx1"))
    m.select(col("event_type"), col("n0").as("n_pre"), col("n1").as("n_post"),
        s0.as("slope_pre"), i0.as("intercept_pre"),
        s1.as("slope_post"), i1.as("intercept_post"),
        (s1 - s0).as("slope_change"), (i1 - i0).as("level_shift"))
      .orderBy(col("event_type"))
  }

  // -------------------------------------------------------- text_ppl_bucket

  /** PERPLEXITY BUCKETING (the CCNet head/middle/tail split,
    * Wenzek et al. 2020) — the quality-tiering step downstream of
    * `text_perplexity`'s per-doc scores: within each LANGUAGE, documents
    * rank by perplexity (ascending — fluent first; ties by doc_id) and
    * split into tertiles via NTILE(3), the exact device CCNet uses to
    * keep "head" data for training and route "tail" to filtering. The
    * declared result is the per-(lang, bucket) datasheet: doc count,
    * token mass, min/max perplexity and the mean — what a pipeline owner
    * reads to pick the keep-cutoff per language.
    *
    * Float discipline: per-doc ppl is `text_perplexity`'s 6-rounded
    * double (already engine-exact); the bucket mean re-uses the
    * integer-micro device — ppl round-trips through DECIMAL(20,6) (exact
    * at its own rounding scale), sums exactly, and the mean rounds
    * HALF-UP in integer micro space before ONE int→double division —
    * never a double-space rounding of a decimal-terminating half (the
    * r10 lesson, applied by construction).
    *
    * 100 TB shape: the scoring pass is text_perplexity's (all LM model
    * tables bounded and broadcast, one doc_id shuffle); the NTILE window
    * partitions by language — per-language state is a sort of that
    * language's doc scores, the price of exact tertiles (CCNet itself
    * sorts per language); the final aggregate lands on the (lang × 3)
    * grid. */
  val textPplBucket: Q = (s, d) => {
    val p = LlmPipeline.textPerplexity(s, d)
      .select(col("doc_id"), col("n_tok"), col("ppl"))
    val lang = T.documents(s, d).select(col("doc_id"), col("lang"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("ppl").asc, col("doc_id").asc)
    p.join(lang, "doc_id")
      .withColumn("bucket", ntile(3).over(w))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("ppl")).as("min_ppl"),
        max(col("ppl")).as("max_ppl"),
        (sum(col("ppl").cast("decimal(20,6)")) * 1000000L).cast("long").as("s6"))
      .select(col("lang"), col("bucket").cast("long").as("bucket"),
        col("n_docs"), col("n_tokens"),
        col("min_ppl"), col("max_ppl"),
        (expr("(s6 * 2 + n_docs) DIV (n_docs * 2)").cast("double")
          / lit(1000000.0)).as("mean_ppl"))
      .orderBy(col("lang"), col("bucket"))
  }

  // --------------------------------------------------------------- agg_psi

  /** POPULATION STABILITY INDEX (the model-monitoring drift metric the
    * credit-risk world standardized: PSI < 0.1 stable, > 0.25 shifted) —
    * the binned-share companion of `text_ks_drift`/`agg_qq_drift`: the
    * order-value distribution before the period midpoint (baseline) vs
    * after (current) over 10 FIXED-WIDTH bins,
    * PSI = Σ (pᵢ − qᵢ)·ln(pᵢ/qᵢ). Bin assignment is pure integer
    * arithmetic on exact cents — `(v100 − min100)·10 DIV (max100 −
    * min100 + 1)` — so the histogram is engine- and partition-exact;
    * shares are add-one smoothed ((n+1)/(N+10), add-one over 10 bins) so
    * empty bins keep ln finite, reported as integer PPM (the
    * `dedup_decontaminate` device — a 6-rounded share ratio is the r10
    * half-rounding trap); each PSI term is ln-fed IEEE, rounds at 8 and
    * sums as exact DECIMAL. The 10-row grid is COMPLETE (cramers_v
    * rule).
    *
    * 100 TB shape: one 3-scalar bounds aggregate broadcasts; the binned
    * counts are ONE conditional hash aggregate onto 10 rows (map-side
    * combined); everything downstream is grid-sized. */
  val aggPsi: Q = (s, d) => {
    val o = T.orders(s, d)
    val scal = o.agg(
        to_date(min(col("o_orderdate"))).as("d0"),
        to_date(max(col("o_orderdate"))).as("d1"),
        min((round(col("o_totalprice").cast("decimal(28,8)"), 2) * 100)
          .cast("long")).as("min100"),
        max((round(col("o_totalprice").cast("decimal(28,8)"), 2) * 100)
          .cast("long")).as("max100"))
      .select(expr("date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))").as("cut"),
        col("min100"), col("max100"))
    val binned = o.select(col("o_orderdate"),
        (round(col("o_totalprice").cast("decimal(28,8)"), 2) * 100)
          .cast("long").as("v100"))
      .crossJoin(broadcast(scal))
      .select(expr("(v100 - min100) * 10 DIV (max100 - min100 + 1)").as("bin"),
        (to_date(col("o_orderdate")) < col("cut")).as("is_base"))
      .groupBy(col("bin"))
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
        sum(when(!col("is_base"), 1L).otherwise(0L)).as("n_curr"))
    val tot = binned.agg(sum(col("n_base")).as("nb"), sum(col("n_curr")).as("nc"))
    val grid = s.range(0, 10).select(col("id").as("bin"))
      .join(binned, Seq("bin"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bin"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_curr"), lit(0L)).as("n_curr"),
        col("nb"), col("nc"))
      .withColumn("base_ppm", expr("(n_base + 1) * 1000000 DIV (nb + 10)"))
      .withColumn("curr_ppm", expr("(n_curr + 1) * 1000000 DIV (nc + 10)"))
      .withColumn("p", (col("n_base") + 1L).cast("double")
        / (col("nb") + 10L).cast("double"))
      .withColumn("q", (col("n_curr") + 1L).cast("double")
        / (col("nc") + 10L).cast("double"))
      .withColumn("term8",
        round((col("p") - col("q")) * log(col("p") / col("q")), 8)
          .cast("decimal(20,8)"))
    val total = grid.agg(sum(col("term8")).as("psi8"))
    grid.crossJoin(broadcast(total))
      .select(col("bin"), col("n_base"), col("n_curr"),
        col("base_ppm"), col("curr_ppm"),
        col("term8").cast("double").as("psi_term"),
        col("psi8").cast("double").as("psi_total"))
      .orderBy(col("bin"))
  }

  // ------------------------------------------------------------- dedup_eval

  /** DEDUP PRECISION/RECALL CURVE against PLANTED ground truth — the eval
    * that closes the loop on the dedup family: `dedup_threshold_sweep`
    * counts what each cutoff KEEPS; this scores each cutoff against the
    * truth the harness corpus plants (every doc_id%7=0 base has a
    * −2-token variant at +200000 — the variant's true family is
    * `id % 100000`). Per threshold 0.7…0.9 over ONE candidate
    * generation at the deployed floor: detected pairs, family-correct
    * pairs (precision's numerator), variants recovered
    * (recall's numerator vs the planted count), and F1 — the
    * actual tuning curve a dedup deployment reads (sweep says 0.9 keeps
    * fewer pairs; eval says what that does to recall).
    *
    * Arithmetic: precision/recall/F1 are integer-PPM floor divisions
    * (`dedup_decontaminate` device; F1 folds as 2·P·R DIV (P+R) on the
    * ppm integers) — a 6-rounded count ratio is the r10 half-rounding
    * trap (1/128 = 0.0078125 terminates with a half at the 7th digit).
    *
    * 100 TB shape: candidate generation is the one corpus-scale stage
    * (the dedup_near prefix-filter plan, run ONCE); truth labeling is a
    * map-side modulus on the pair stream; the sweep is |pairs|×5
    * map-side with one 5-row aggregate; the planted-count scalar
    * broadcasts. */
  val dedupEval: Q = (s, d) => {
    val c = LlmPipeline.corpus(s, d)
    val pairs = graft.api.TextDedup.jaccardJoinSplit(c, "doc_id", "text",
      col("doc_id") % Bands.DocBand >= 200000L, 0.7)
    val grid = s.range(14, 19)
      .select((col("id").cast("double") / lit(20.0)).as("t"))
    val agg = pairs.crossJoin(broadcast(grid))
      .filter(col("jacc") >= col("t"))
      .withColumn("is_true",
        Bands.docOrig(col("left_id")) === Bands.docOrig(col("right_id")))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_detected"),
        sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true"),
        countDistinct(when(col("is_true"), col("left_id"))).as("n_vars_matched"))
    val expected = T.documents(s, d).filter(col("doc_id") % 7 === 0)
      .agg(count(lit(1)).as("n_expected"))
    grid.join(agg, Seq("t"), "left").crossJoin(broadcast(expected))
      .select(col("t").as("threshold"), col("n_expected"),
        coalesce(col("n_detected"), lit(0L)).as("n_detected"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_vars_matched"), lit(0L)).as("n_vars_matched"))
      .withColumn("p_ppm", expr(
        "CASE WHEN n_detected > 0 THEN n_true * 1000000 DIV n_detected " +
          "ELSE 0 END"))
      .withColumn("r_ppm", expr("n_vars_matched * 1000000 DIV n_expected"))
      .withColumn("f1_ppm", expr(
        "CASE WHEN p_ppm + r_ppm > 0 THEN 2 * p_ppm * r_ppm DIV (p_ppm + r_ppm) " +
          "ELSE 0 END"))
      .select(col("threshold"), col("n_expected"), col("n_detected"),
        col("n_true"), col("n_vars_matched"),
        (col("p_ppm").cast("double") / lit(1000000.0)).as("precision"),
        (col("r_ppm").cast("double") / lit(1000000.0)).as("recall"),
        (col("f1_ppm").cast("double") / lit(1000000.0)).as("f1"))
      .orderBy(col("threshold"))
  }

  // --------------------------------------------------------------- sim_ndcg

  /** nDCG@5 RETRIEVAL-QUALITY AUDIT of the IVF index — the GRADED
    * companion of `sim_recall_audit` (recall@k says how many of the true
    * top-5 the index returns; nDCG says whether it returns the BEST ones
    * FIRST — the metric every retrieval eval actually reports): per
    * probe, relevance of a candidate = 6 − its exact brute-force rank
    * (0 if outside the true top-5), DCG = Σ rel(candᵢ)/ln(i+1) over the
    * IVF ranking, IDCG = the same sum over the exact ranking, nDCG =
    * DCG/IDCG. Natural-log discount (the standard variant; both engines
    * spell the identical ln text). Per-position terms are ln-fed IEEE
    * rounded at 8 and sum as exact DECIMAL; nDCG is one double division
    * of two exactly-representable decimals, rounded 6.
    *
    * 100 TB shape: both rankings are the existing declared plans (brute
    * = broadcast-probe scan; IVF = centroid-pruned cell join); the audit
    * itself joins two O(probes × k) tables — model-sized. At deploy
    * scale the brute side runs on a SAMPLE of probes (the standard
    * ANN-eval protocol); the audit cost is the sample's brute scan. */
  val simNdcg: Q = (s, d) => {
    val exact = LlmPipeline.simTopk(s, d)
      .select(col("probe_id"), col("rnk").as("ernk"), col("cand_id"))
    val ivf = LlmPipeline.simTopkIvf(s, d)
      .select(col("probe_id"), col("rnk"), col("cand_id"))
    val term = (rel: Column, pos: Column) =>
      round(rel.cast("double") / log(pos.cast("double") + lit(1.0)), 8)
        .cast("decimal(20,8)")
    val dcg = ivf.join(exact, Seq("probe_id", "cand_id"), "left")
      .select(col("probe_id"),
        term(coalesce(lit(6L) - col("ernk"), lit(0L)), col("rnk")).as("t8"))
      .groupBy(col("probe_id")).agg(sum(col("t8")).as("dcg8"))
    val idcg = exact
      .select(col("probe_id"),
        term(lit(6L) - col("ernk"), col("ernk")).as("t8"))
      .groupBy(col("probe_id")).agg(sum(col("t8")).as("idcg8"))
    idcg.join(dcg, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("dcg8"), lit(0).cast("decimal(20,8)"))
          .cast("double").as("dcg"),
        col("idcg8").cast("double").as("idcg"),
        round(coalesce(col("dcg8"), lit(0).cast("decimal(20,8)")).cast("double")
          / col("idcg8").cast("double"), 6).as("ndcg"))
      .orderBy(col("probe_id"))
  }

  // --------------------------------------------------------- text_ppl_holdout

  /** HELD-OUT PERPLEXITY — the actual LM evaluation loop
    * (`text_perplexity` scores docs under a model fit on the SAME corpus;
    * an eval that matters fits on TRAIN and scores docs the model never
    * saw): the deterministic `sample_split` fate (md5_48("split:"+id) %
    * 100; 0 = val, ≥ 2 = train) partitions the corpus, the Jelinek-Mercer
    * bigram model (same λ=0.7, same top-24 vocab bound — now from TRAIN
    * counts only) fits on train, and every VAL doc scores under it. The
    * genuinely-unseen-event cases the in-corpus key never exercises are
    * spelled explicitly: an unseen context contributes bigram part 0 (JM
    * backoff mass to the unigram term); an unseen bigram under a seen
    * context contributes c12 = 0; vocab-mapping makes the unigram term
    * always attested (`<unk>` is a train type by construction).
    *
    * Float discipline: identical to text_perplexity — fixed IEEE
    * probability expressions over exact counts, log-probs round 8 into
    * exact decimal sums, integer-micro mean, exp rounds 6.
    *
    * 100 TB shape: the split gate is a scan-fused row property (no
    * shuffle); all model tables stay vocab-bounded and BROADCAST; val
    * scoring is the same map-side pass as text_perplexity over a 1%
    * slice. Fitting on 98% and scoring 1% costs one corpus aggregate
    * pass plus a sliver. */
  val textPplHoldout: Q = (s, d) => {
    val h48 = (c: Column) => graft.expr.Md5Prefix48.md548(c)
    val bucket = h48(concat(lit("split:"), col("doc_id").cast("string"))) % 100L
    val docs = T.documents(s, d).withColumn("bkt", bucket)
    val train = docs.filter(col("bkt") >= 2L)
    val vals = docs.filter(col("bkt") === 0L)
    def toks(df: DataFrame) = df.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val tToks = toks(train)
    val counts = tToks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val vocab = counts.orderBy(col("c").desc, col("tok")).limit(24)
      .select(col("tok"), lit(1L).as("inv"))
    def mapped(tok: Column, inv: Column): Column =
      when(inv.isNull, lit("<unk>")).otherwise(tok)
    def mStream(df: DataFrame) = toks(df)
      .join(broadcast(vocab), Seq("tok"), "left")
      .select(col("doc_id"), col("pos"),
        mapped(col("tok"), col("inv")).as("mtok"))
    val uni = counts.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(mapped(col("tok"), col("inv")).as("mtok"))
      .agg(sum(col("c")).as("c"))
    val nTot = counts.agg(sum(col("c")).as("nt"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tSeq = mStream(train).withColumn("w1", lag(col("mtok"), 1).over(w))
    val bg = tSeq.filter(col("w1").isNotNull)
      .groupBy(col("w1"), col("mtok")).agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vSeq = mStream(vals).withColumn("w1", lag(col("mtok"), 1).over(w))
    val pUni = col("c").cast("double") / col("nt").cast("double")
    val bigramPart = when(col("c1").isNull, lit(0.0))
      .otherwise(coalesce(col("c12"), lit(0L)).cast("double")
        / col("c1").cast("double"))
    val p = when(col("w1").isNull, pUni)
      .otherwise(lit(0.7) * bigramPart + lit(0.3) * pUni)
    vSeq.join(broadcast(uni), Seq("mtok"))
      .crossJoin(broadcast(nTot))
      .join(broadcast(bg), Seq("w1", "mtok"), "left")
      .join(broadcast(c1), Seq("w1"), "left")
      .select(col("doc_id"), round(log(p), 8).cast("decimal(20,8)").as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        (sum(col("lp")) * 100000000L).cast("long").as("s8"))
      .withColumn("mean_micro", expr(
        """CASE WHEN s8 >= 0 THEN (s8 * 2 + n_tok * 100) DIV (n_tok * 200)
          |     ELSE -((-s8 * 2 + n_tok * 100) DIV (n_tok * 200)) END""".stripMargin))
      .select(col("doc_id"), col("n_tok"),
        round(exp(-col("mean_micro").cast("double") / 1e6), 6).as("ppl_holdout"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ meta_lineage

  /** COLUMN-LEVEL LINEAGE REPORT ([[graft.core.Lineage]]) — the
    * data-catalog observability surface (OpenLineage/Unity-catalog
    * class): for three representative declared queries, every output
    * column maps to the (source table, source column) leaves its VALUE
    * derives from, read off the OPTIMIZED Catalyst plan — so pruned
    * columns never appear and the report reflects what the engine
    * actually reads. Data lineage only: join keys and filters are
    * control dependencies and deliberately excluded (the OpenLineage
    * distinction).
    *
    * The oracle is a PINNED constant table: lineage is a STATIC property
    * of the fixed query text — the declarative truth IS the expected
    * edge list, the same contract class as `meta_layout`'s layout
    * constants. Pure plan metadata — no job runs, no data moves; at
    * 100 TB this costs exactly what it costs here. */
  val metaLineage: Q = (s, d) => {
    val subjects: Seq[(String, Q)] = Seq(
      "tpch_q3" -> Composite.queries("tpch_q3"),
      "agg_hash" -> graft.SqlCatalog.sql("agg_hash"),
      "window_lag" -> Relational.windowLag)
    val rows = subjects.flatMap { case (qn, fn) =>
      graft.core.Lineage.of(fn(s, d)).map { case (o, t, c) => (qn, o, t, c) }
    }
    import s.implicits._
    rows.toDF("query", "out_col", "src_table", "src_col")
      .orderBy(col("query"), col("out_col"), col("src_table"), col("src_col"))
  }

  // ---------------------------------------------------------- text_lang_ngram

  /** Profile length for [[textLangNgram]] — 32 trigram ranks stands in
    * for Cavnar-Trenkle's 300 at production vocabulary sizes. */
  private val LangK = 32

  /** CHAR-N-GRAM LANGUAGE ID (Cavnar-Trenkle 1994 — the out-of-place
    * rank-distance classifier behind langid.py/CLD-class filters) plus
    * its CONFUSION-MATRIX eval — the real language gate `text_lang`'s
    * marker-lexicon stub stands in for: per language a TRAINED profile
    * (top-[[LangK]] char trigrams by frequency, rank-ordered) from an
    * 80% hash-split of the corpus, each held-out doc builds its own
    * profile and classifies to the language minimizing the OUT-OF-PLACE
    * distance Σ |doc_rank − lang_rank| (missing trigram → penalty K).
    * The declared result is the complete zero-filled (true × predicted)
    * confusion grid over the held-out 20% — what a pipeline owner reads
    * before trusting the gate. The distance is pure INTEGER rank
    * arithmetic — engine- and partition-exact by construction (ties in
    * both rank windows break on the trigram text).
    *
    * 100 TB shape: doc trigram counting is one doc-keyed aggregate; the
    * doc-profile window partitions by doc_id; language profiles are
    * (langs × K) rows — broadcast; the distance join fans each held-out
    * doc's ≤ K profile rows by |langs| map-side and re-aggregates on
    * (doc, lang); the confusion grid is model-sized. Nothing after the
    * first aggregate is corpus-sized.
    *
    * Honesty note: the harness corpus draws each doc's words from a
    * lang-independent distribution, so NO classifier can beat chance
    * here (measured: rank-distance 23%, word-rank 24%, add-one naive
    * Bayes 23% — all ≈ the 20% base rate over 5 labels) and the grid
    * correctly reads near-uniform. That IS the eval op working: on a
    * real multilingual corpus the same plan separates languages; on
    * this one it reports "no signal", which is what a confusion matrix
    * is for. */
  val textLangNgram: Q = (s, d) => {
    val h48 = (c: Column) => graft.expr.Md5Prefix48.md548(c)
    val bkt = h48(concat(lit("langid:"), col("doc_id").cast("string"))) % 100L
    val docs = T.documents(s, d)
      .select(col("doc_id"), col("lang"), lower(col("text")).as("t"))
      .filter(length(col("t")) >= 3)
      .withColumn("bkt", bkt)
    val grams = (df: DataFrame) => df.select(col("doc_id"), col("lang"),
      explode(expr("transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))"))
        .as("g"))
    val train = grams(docs.filter(col("bkt") >= 20L))
    val langProf = train.groupBy(col("lang"), col("g"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rl", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("c").desc, col("g").asc)))
      .filter(col("rl") <= LangK)
      .select(col("lang"), col("g"), col("rl").cast("long").as("rl"))
    val valDocs = docs.filter(col("bkt") < 20L)
    val docProf = grams(valDocs).groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rd", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("c").desc, col("g").asc)))
      .filter(col("rd") <= LangK)
      .select(col("doc_id"), col("g"), col("rd").cast("long").as("rd"))
    val langs = T.documents(s, d).select(col("lang")).distinct()
    val dist = docProf
      .crossJoin(broadcast(langs.select(col("lang").as("cand"))))
      .join(broadcast(langProf.select(col("lang").as("cand"), col("g"),
        col("rl"))), Seq("cand", "g"), "left")
      .groupBy(col("doc_id"), col("cand"))
      .agg(sum(coalesce(abs(col("rd") - col("rl")), lit(LangK.toLong)))
        .as("dist"))
    val pred = dist.groupBy(col("doc_id"))
      .agg(min(struct(col("dist"), col("cand"))).as("m"))
      .select(col("doc_id"), col("m.cand").as("lang_pred"))
    val conf = valDocs.select(col("doc_id"), col("lang").as("lang_true"))
      .join(pred, "doc_id")
      .groupBy(col("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val grid = langs.select(col("lang").as("lang_true"))
      .crossJoin(langs.select(col("lang").as("lang_pred")))
    val filled = grid.join(conf, Seq("lang_true", "lang_pred"), "left")
      .select(col("lang_true"), col("lang_pred"),
        coalesce(col("n"), lit(0L)).as("n_docs"))
    // row_total as a window sum, NOT groupBy+self-join: `filled` consumed
    // twice re-plans the whole upstream pipeline (doc profiles, distance
    // join, prediction, confusion agg — 58-Exchange declared plan, nothing
    // reused at runtime); the window keeps one linear plan over the 25-row
    // grid. Same longs, same rows (r14, guide §2.4).
    filled
      .withColumn("row_total",
        sum(col("n_docs")).over(Window.partitionBy(col("lang_true"))))
      .select(col("lang_true"), col("lang_pred"), col("n_docs"),
        expr("CASE WHEN row_total > 0 THEN n_docs * 1000000 DIV row_total " +
          "ELSE 0 END").as("row_ppm"))
      .orderBy(col("lang_true"), col("lang_pred"))
  }

  // -------------------------------------------------------------- sample_ess

  /** KISH EFFECTIVE SAMPLE SIZE (Kish 1965; the importance-sampling
    * diagnostic every weighted-training run should publish) of the
    * `text_curriculum` sample: ESS = (Σw)²/Σw² — how many EQUAL-weight
    * examples the weighted sample is statistically worth. Per tier the
    * weights are constant so ESS = n exactly (the built-in sanity row);
    * the 'all' scope mixes the 1×/2.5×/10× inverse-rate weights and
    * reads the real efficiency loss — the number that says whether the
    * low-tier upweighting is costing more variance than its coverage
    * buys (the `sample_dsir`/`text_doremi_step` deployment check).
    *
    * Arithmetic: weights are exact tenths (w10 ∈ {10, 25, 100}), so
    * ESS = S1²/S2 on the INTEGER w10 sums — units cancel. Reported in
    * integer micro units via DECIMAL multiply + floor division (int64
    * S1² overflows past ~3M kept rows; the decimal spelling is the
    * 100 TB-safe form), then ONE int→double division. sum_w = S1/10 is
    * a single IEEE division of an exact integer.
    *
    * 100 TB shape: the curriculum gate is scan-fused (its own declared
    * plan); the audit is ONE hash aggregate onto ≤ 4 scope rows with
    * map-side combine — the 'all' scope rides a 2× map-side union of
    * the same scan, never a second shuffle grain. */
  val sampleEss: Q = (s, d) => {
    val kept = LlmPipeline.textCurriculum(s, d).select(col("tier"))
    val w10 = when(col("tier") === "high", 10L)
      .when(col("tier") === "mid", 25L).otherwise(100L)
    val rows = kept.select(col("tier").as("scope"), w10.as("w10"))
      .unionByName(kept.select(lit("all").as("scope"), w10.as("w10")))
    rows.groupBy(col("scope"))
      .agg(count(lit(1)).as("n"),
        sum(col("w10")).as("s1"),
        sum(col("w10") * col("w10")).as("s2"))
      .select(col("scope"), col("n"),
        (col("s1").cast("double") / lit(10.0)).as("sum_w"),
        (expr("CAST(CAST(s1 AS DECIMAL(18,0)) * CAST(s1 AS DECIMAL(18,0)) " +
          "* 1000000 DIV CAST(s2 AS DECIMAL(18,0)) AS DOUBLE)")
          / lit(1000000.0)).as("ess"),
        (expr("CAST(CAST(s1 AS DECIMAL(18,0)) * CAST(s1 AS DECIMAL(18,0)) " +
          "* 1000000 DIV (CAST(s2 AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0))) " +
          "AS DOUBLE)") / lit(1000000.0)).as("ess_ratio"))
      .orderBy(col("scope"))
  }

  // --------------------------------------------------------------- registry

  val queries: Map[String, Q] = Map(
    "text_feature_hash" -> textFeatureHash,
    "events_its" -> eventsIts,
    "text_ppl_bucket" -> textPplBucket,
    "agg_psi" -> aggPsi,
    "dedup_eval" -> dedupEval,
    "sim_ndcg" -> simNdcg,
    "text_ppl_holdout" -> textPplHoldout,
    "meta_lineage" -> metaLineage,
    "text_lang_ngram" -> textLangNgram,
    "sample_ess" -> sampleEss,
  )

  /** DuckDB oracle texts. meta_lineage is dual-dialect ANSI, so
    * SqlCatalog serves it as is; the others
    * tokenize or use date arithmetic, so each dialect spells its own
    * primitives. */
  val oracles: Map[String, String] = Map(
    "text_feature_hash" -> {
      val h = (e: String) => LlmPipeline.h48Sql(e)
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |h AS (SELECT doc_id, term, ${h("term")} % $HashDim AS bucket FROM toks),
         |bt AS (SELECT bucket, COUNT(*) AS n_tokens FROM h GROUP BY bucket),
         |tm AS (SELECT ${h("term")} % $HashDim AS bucket, COUNT(*) AS n_terms
         |       FROM (SELECT DISTINCT term FROM toks) GROUP BY 1),
         |bd AS (SELECT bucket, COUNT(DISTINCT doc_id) AS n_docs
         |       FROM h GROUP BY bucket),
         |tot AS (SELECT COUNT(*) AS n_total FROM toks),
         |g AS (SELECT unnest(generate_series(0, ${HashDim - 1})) AS bucket)
         |SELECT g.bucket,
         |  COALESCE(bt.n_tokens, 0) AS n_tokens,
         |  COALESCE(tm.n_terms, 0) AS n_terms,
         |  COALESCE(bd.n_docs, 0) AS n_docs,
         |  CAST(COALESCE(bt.n_tokens, 0) AS DOUBLE)
         |    / CAST(tot.n_total AS DOUBLE) AS mass_share
         |FROM g
         |LEFT JOIN bt ON bt.bucket = g.bucket
         |LEFT JOIN tm ON tm.bucket = g.bucket
         |LEFT JOIN bd ON bd.bucket = g.bucket
         |CROSS JOIN tot
         |ORDER BY g.bucket""".stripMargin
    },

    "events_its" -> {
      val fit = (n: String, sx: String, sy: String, sxy: String, sxx: String) => {
        val nd = s"CAST($n AS DOUBLE)"; val sxd = s"CAST($sx AS DOUBLE)"
        val syd = s"CAST($sy AS DOUBLE)"; val sxyd = s"CAST($sxy AS DOUBLE)"
        val sxxd = s"CAST($sxx AS DOUBLE)"
        val slope100 = s"(($nd * $sxyd - $sxd * $syd) / ($nd * $sxxd - $sxd * $sxd))"
        (s"($slope100 / 100.0)",
          s"((($syd - $slope100 * $sxd) / $nd) / 100.0)")
      }
      val (s0, i0) = fit("n0", "sx0", "sy0", "sxy0", "sxx0")
      val (s1, i1) = fit("n1", "sx1", "sy1", "sxy1", "sxx1")
      val dsumSql = graft.core.Numeric.dsumSql _
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    ${dsumSql("value")} AS rev
         |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
         |cutoff AS (
         |  SELECT CAST(MIN(ts) AS DATE)
         |    + CAST(date_diff('day', CAST(MIN(ts) AS DATE),
         |        CAST(MAX(ts) AS DATE)) // 2 AS INTEGER)
         |    AS cut
         |  FROM events),
         |base AS (
         |  SELECT event_type,
         |    CAST(date_diff('day', cut, day) AS BIGINT) AS x,
         |    CAST(ROUND(CAST(rev AS DECIMAL(28,8)), 2) * 100 AS BIGINT) AS y100
         |  FROM daily CROSS JOIN cutoff),
         |m AS (
         |  SELECT event_type,
         |    CAST(SUM(CASE WHEN x < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(SUM(CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN x < 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
         |    CAST(SUM(CASE WHEN x >= 0 THEN x ELSE 0 END) AS BIGINT) AS sx1,
         |    CAST(SUM(CASE WHEN x < 0 THEN y100 ELSE 0 END) AS BIGINT) AS sy0,
         |    CAST(SUM(CASE WHEN x >= 0 THEN y100 ELSE 0 END) AS BIGINT) AS sy1,
         |    CAST(SUM(CASE WHEN x < 0 THEN x * y100 ELSE 0 END) AS BIGINT) AS sxy0,
         |    CAST(SUM(CASE WHEN x >= 0 THEN x * y100 ELSE 0 END) AS BIGINT) AS sxy1,
         |    CAST(SUM(CASE WHEN x < 0 THEN x * x ELSE 0 END) AS BIGINT) AS sxx0,
         |    CAST(SUM(CASE WHEN x >= 0 THEN x * x ELSE 0 END) AS BIGINT) AS sxx1
         |  FROM base GROUP BY event_type
         |  HAVING SUM(CASE WHEN x < 0 THEN 1 ELSE 0 END) >= 2
         |     AND SUM(CASE WHEN x >= 0 THEN 1 ELSE 0 END) >= 2)
         |SELECT event_type, n0 AS n_pre, n1 AS n_post,
         |  $s0 AS slope_pre, $i0 AS intercept_pre,
         |  $s1 AS slope_post, $i1 AS intercept_post,
         |  ($s1 - $s0) AS slope_change, ($i1 - $i0) AS level_shift
         |FROM m ORDER BY event_type""".stripMargin
    },

    "agg_psi" ->
      """WITH v AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100
        |      AS BIGINT) AS v100
        |  FROM orders),
        |scal AS (
        |  SELECT MIN(day)
        |      + CAST(date_diff('day', MIN(day), MAX(day)) // 2 AS INTEGER)
        |      AS cut,
        |    MIN(v100) AS min100, MAX(v100) AS max100
        |  FROM v),
        |binned AS (
        |  SELECT (v100 - min100) * 10 // (max100 - min100 + 1) AS bin,
        |    CAST(SUM(CASE WHEN day < cut THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_base,
        |    CAST(SUM(CASE WHEN day >= cut THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_curr
        |  FROM v CROSS JOIN scal
        |  GROUP BY (v100 - min100) * 10 // (max100 - min100 + 1)),
        |tot AS (SELECT CAST(SUM(n_base) AS BIGINT) AS nb,
        |               CAST(SUM(n_curr) AS BIGINT) AS nc FROM binned),
        |g AS (SELECT unnest(generate_series(0, 9)) AS bin),
        |grid AS (
        |  SELECT g.bin,
        |    COALESCE(binned.n_base, 0) AS n_base,
        |    COALESCE(binned.n_curr, 0) AS n_curr,
        |    tot.nb, tot.nc
        |  FROM g LEFT JOIN binned ON binned.bin = g.bin CROSS JOIN tot),
        |terms AS (
        |  SELECT bin, n_base, n_curr,
        |    (n_base + 1) * 1000000 // (nb + 10) AS base_ppm,
        |    (n_curr + 1) * 1000000 // (nc + 10) AS curr_ppm,
        |    CAST(round(
        |      (CAST(n_base + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE)
        |        - CAST(n_curr + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE))
        |      * ln((CAST(n_base + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE))
        |          / (CAST(n_curr + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE))),
        |      8) AS DECIMAL(20,8)) AS term8
        |  FROM grid),
        |total AS (SELECT SUM(term8) AS psi8 FROM terms)
        |SELECT bin, n_base, n_curr,
        |  CAST(base_ppm AS BIGINT) AS base_ppm,
        |  CAST(curr_ppm AS BIGINT) AS curr_ppm,
        |  CAST(term8 AS DOUBLE) AS psi_term,
        |  CAST(psi8 AS DOUBLE) AS psi_total
        |FROM terms CROSS JOIN total
        |ORDER BY bin""".stripMargin,

    "dedup_eval" -> {
      import LlmPipeline.{corpusSql, shingleSetsSql, jaccSql}
      s"""WITH $corpusSql,
         |$shingleSetsSql,
         |pairs AS (
         |  SELECT sa.doc_id AS a, sb.doc_id AS b, round($jaccSql, 6) AS jr
         |  FROM ssets sa JOIN ssets sb
         |    ON sa.doc_id % 252000 >= 200000 AND sb.doc_id % 252000 < 200000
         |  WHERE $jaccSql >= 0.7),
         |g AS (SELECT CAST(t AS DOUBLE) AS t FROM (VALUES (0.7), (0.75),
         |  (0.8), (0.85), (0.9)) v(t)),
         |agg AS (
         |  SELECT g.t, COUNT(*) AS n_detected,
         |    CAST(SUM(CASE WHEN pairs.a - 100000 * CAST(FLOOR(CAST(pairs.a % 252000 AS DOUBLE) / 100000.0) AS BIGINT)
        |      = pairs.b - 100000 * CAST(FLOOR(CAST(pairs.b % 252000 AS DOUBLE) / 100000.0) AS BIGINT)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         |    COUNT(DISTINCT CASE WHEN pairs.a - 100000 * CAST(FLOOR(CAST(pairs.a % 252000 AS DOUBLE) / 100000.0) AS BIGINT)
        |      = pairs.b - 100000 * CAST(FLOOR(CAST(pairs.b % 252000 AS DOUBLE) / 100000.0) AS BIGINT)
         |      THEN pairs.a END) AS n_vars_matched
         |  FROM pairs CROSS JOIN g WHERE pairs.jr >= g.t GROUP BY g.t),
         |expected AS (
         |  SELECT COUNT(*) AS n_expected FROM documents WHERE doc_id % 7 = 0),
         |filled AS (
         |  SELECT g.t AS threshold, expected.n_expected,
         |    COALESCE(agg.n_detected, 0) AS n_detected,
         |    COALESCE(agg.n_true, 0) AS n_true,
         |    COALESCE(agg.n_vars_matched, 0) AS n_vars_matched
         |  FROM g LEFT JOIN agg ON agg.t = g.t CROSS JOIN expected),
         |ppm AS (
         |  SELECT threshold, n_expected, n_detected, n_true, n_vars_matched,
         |    CASE WHEN n_detected > 0
         |      THEN n_true * 1000000 // n_detected ELSE 0 END AS p_ppm,
         |    n_vars_matched * 1000000 // n_expected AS r_ppm
         |  FROM filled)
         |SELECT threshold, n_expected, n_detected, n_true, n_vars_matched,
         |  CAST(p_ppm AS DOUBLE) / 1000000.0 AS precision,
         |  CAST(r_ppm AS DOUBLE) / 1000000.0 AS recall,
         |  CAST(CASE WHEN p_ppm + r_ppm > 0
         |    THEN 2 * p_ppm * r_ppm // (p_ppm + r_ppm) ELSE 0 END AS DOUBLE)
         |    / 1000000.0 AS f1
         |FROM ppm ORDER BY threshold""".stripMargin
    },

    "sim_ndcg" -> {
      val cos = (a: String, b: String) => LlmPipeline.cosineSql(a, b)
      s"""WITH bscored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |    round(${cos("p.embedding", "c.embedding")}, 6) AS cos
         |  FROM embeddings p JOIN embeddings c
         |    ON p.vec_id < 10 AND c.vec_id <> p.vec_id),
         |brute AS (
         |  SELECT probe_id, cand_id, ernk FROM (
         |    SELECT probe_id, cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY probe_id
         |        ORDER BY cos DESC, cand_id) AS ernk
         |    FROM bscored) WHERE ernk <= 5),
         |cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cent
         |  FROM embeddings WHERE vec_id % 50 = 0),
         |assign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cos("e.embedding", "c.cent")}, 6) DESC,
         |          c.cent_id) AS arnk
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE arnk = 1),
         |icells AS (
         |  SELECT e.vec_id AS cand_id, a.cell, e.embedding AS ce
         |  FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id),
         |probe_cells AS (
         |  SELECT probe_id, pe, cell FROM (
         |    SELECT p.vec_id AS probe_id, p.embedding AS pe, c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |        ORDER BY round(${cos("p.embedding", "c.cent")}, 6) DESC,
         |          c.cent_id) AS prnk
         |    FROM embeddings p CROSS JOIN cents c WHERE p.vec_id < 10)
         |  WHERE prnk <= 3),
         |iscored AS (
         |  SELECT pc.probe_id, s.cand_id,
         |    round(${cos("pc.pe", "s.ce")}, 6) AS cos
         |  FROM probe_cells pc JOIN icells s ON pc.cell = s.cell
         |  WHERE s.cand_id <> pc.probe_id),
         |ivf AS (
         |  SELECT probe_id, cand_id, rnk FROM (
         |    SELECT probe_id, cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY probe_id
         |        ORDER BY cos DESC, cand_id) AS rnk
         |    FROM iscored) WHERE rnk <= 5),
         |dcg AS (
         |  SELECT i.probe_id,
         |    SUM(CAST(round(CAST(COALESCE(6 - b.ernk, 0) AS DOUBLE)
         |      / ln(CAST(i.rnk AS DOUBLE) + 1.0), 8) AS DECIMAL(20,8))) AS dcg8
         |  FROM ivf i LEFT JOIN brute b
         |    ON i.probe_id = b.probe_id AND i.cand_id = b.cand_id
         |  GROUP BY i.probe_id),
         |idcg AS (
         |  SELECT probe_id,
         |    SUM(CAST(round(CAST(6 - ernk AS DOUBLE)
         |      / ln(CAST(ernk AS DOUBLE) + 1.0), 8) AS DECIMAL(20,8))) AS idcg8
         |  FROM brute GROUP BY probe_id)
         |SELECT idcg.probe_id,
         |  CAST(COALESCE(dcg.dcg8, CAST(0 AS DECIMAL(20,8))) AS DOUBLE) AS dcg,
         |  CAST(idcg.idcg8 AS DOUBLE) AS idcg,
         |  round(CAST(COALESCE(dcg.dcg8, CAST(0 AS DECIMAL(20,8))) AS DOUBLE)
         |    / CAST(idcg.idcg8 AS DOUBLE), 6) AS ndcg
         |FROM idcg LEFT JOIN dcg ON idcg.probe_id = dcg.probe_id
         |ORDER BY idcg.probe_id""".stripMargin
    },

    "text_ppl_holdout" -> {
      val h = LlmPipeline.h48Sql("'split:' || CAST(doc_id AS VARCHAR)")
      s"""WITH docs AS (
         |  SELECT doc_id, text, $h % 100 AS bkt FROM documents),
         |ttok AS (SELECT doc_id, string_split(text, ' ') AS l
         |         FROM docs WHERE bkt >= 2),
         |traw AS (SELECT doc_id, i AS pos, l[i] AS tok
         |  FROM ttok, LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) g),
         |counts AS (SELECT tok, COUNT(*) AS c FROM traw GROUP BY tok),
         |vocab AS (SELECT tok FROM counts ORDER BY c DESC, tok LIMIT 24),
         |tt AS (SELECT doc_id, pos, mtok,
         |    lag(mtok) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
         |  FROM (SELECT r.doc_id, r.pos,
         |      CASE WHEN v.tok IS NULL THEN '<unk>' ELSE r.tok END AS mtok
         |    FROM traw r LEFT JOIN vocab v ON r.tok = v.tok)),
         |uni AS (SELECT CASE WHEN v.tok IS NULL THEN '<unk>' ELSE c.tok END AS mtok,
         |    SUM(c.c) AS c
         |  FROM counts c LEFT JOIN vocab v ON c.tok = v.tok GROUP BY 1),
         |nt AS (SELECT SUM(c) AS nt FROM counts),
         |bg AS (SELECT w1, mtok, COUNT(*) AS c12 FROM tt
         |       WHERE w1 IS NOT NULL GROUP BY w1, mtok),
         |c1t AS (SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY w1),
         |vtok AS (SELECT doc_id, string_split(text, ' ') AS l
         |         FROM docs WHERE bkt = 0),
         |vraw AS (SELECT doc_id, i AS pos, l[i] AS tok
         |  FROM vtok, LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) g),
         |vm AS (SELECT doc_id, pos, mtok,
         |    lag(mtok) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
         |  FROM (SELECT r.doc_id, r.pos,
         |      CASE WHEN v.tok IS NULL THEN '<unk>' ELSE r.tok END AS mtok
         |    FROM vraw r LEFT JOIN vocab v ON r.tok = v.tok)),
         |scored AS (SELECT t.doc_id,
         |    round(ln(CASE WHEN t.w1 IS NULL
         |      THEN CAST(u.c AS DOUBLE) / CAST(nt.nt AS DOUBLE)
         |      ELSE 0.7 * (CASE WHEN c.c1 IS NULL THEN CAST(0.0 AS DOUBLE)
         |          ELSE CAST(COALESCE(b.c12, 0) AS DOUBLE) / CAST(c.c1 AS DOUBLE)
         |          END)
         |        + 0.3 * (CAST(u.c AS DOUBLE) / CAST(nt.nt AS DOUBLE)) END), 8)
         |      AS lp
         |  FROM vm t JOIN uni u ON t.mtok = u.mtok CROSS JOIN nt
         |  LEFT JOIN bg b ON t.w1 = b.w1 AND t.mtok = b.mtok
         |  LEFT JOIN c1t c ON t.w1 = c.w1),
         |agg AS (SELECT doc_id, COUNT(*) AS n_tok,
         |    CAST(SUM(CAST(lp AS DECIMAL(20,8))) * 100000000 AS BIGINT) AS s8
         |  FROM scored GROUP BY doc_id),
         |mm AS (SELECT doc_id, n_tok,
         |    CASE WHEN s8 >= 0 THEN (s8 * 2 + n_tok * 100) // (n_tok * 200)
         |         ELSE -((-s8 * 2 + n_tok * 100) // (n_tok * 200)) END AS micro
         |  FROM agg)
         |SELECT doc_id, n_tok,
         |  CAST(round(exp(-(CAST(micro AS DOUBLE)) / 1000000.0), 6) AS DOUBLE)
         |    AS ppl_holdout
         |FROM mm ORDER BY doc_id""".stripMargin
    },

    // lineage is a STATIC property of the fixed query texts — the pinned
    // edge list IS the declarative truth (meta_layout contract class);
    // dual-dialect VALUES (SqlCatalog serves it as is)
    "meta_lineage" ->
      """SELECT query, out_col, src_table, src_col FROM (VALUES
        |  ('agg_hash', 'avg_disc', 'lineitem', 'l_discount'),
        |  ('agg_hash', 'avg_price', 'lineitem', 'l_extendedprice'),
        |  ('agg_hash', 'avg_qty', 'lineitem', 'l_quantity'),
        |  ('agg_hash', 'l_linestatus', 'lineitem', 'l_linestatus'),
        |  ('agg_hash', 'l_returnflag', 'lineitem', 'l_returnflag'),
        |  ('agg_hash', 'sum_base_price', 'lineitem', 'l_extendedprice'),
        |  ('agg_hash', 'sum_charge', 'lineitem', 'l_discount'),
        |  ('agg_hash', 'sum_charge', 'lineitem', 'l_extendedprice'),
        |  ('agg_hash', 'sum_charge', 'lineitem', 'l_tax'),
        |  ('agg_hash', 'sum_disc_price', 'lineitem', 'l_discount'),
        |  ('agg_hash', 'sum_disc_price', 'lineitem', 'l_extendedprice'),
        |  ('agg_hash', 'sum_qty', 'lineitem', 'l_quantity'),
        |  ('tpch_q3', 'l_orderkey', 'lineitem', 'l_orderkey'),
        |  ('tpch_q3', 'o_orderdate', 'orders', 'o_orderdate'),
        |  ('tpch_q3', 'revenue', 'lineitem', 'l_discount'),
        |  ('tpch_q3', 'revenue', 'lineitem', 'l_extendedprice'),
        |  ('window_lag', 'day', 'events', 'ts'),
        |  ('window_lag', 'delta', 'events', 'ts'),
        |  ('window_lag', 'delta', 'events', 'value'),
        |  ('window_lag', 'prev_v', 'events', 'ts'),
        |  ('window_lag', 'prev_v', 'events', 'value'),
        |  ('window_lag', 'v', 'events', 'value')
        |) AS v(query, out_col, src_table, src_col)
        |ORDER BY query, out_col, src_table, src_col""".stripMargin,

    "sample_ess" -> {
      val w10 = "CASE tier WHEN 'high' THEN 10 WHEN 'mid' THEN 25 ELSE 100 END"
      s"""WITH ${LlmPipeline.curriculumKeptSql},
         |rows_ AS (
         |  SELECT tier AS scope, $w10 AS w10 FROM kept
         |  UNION ALL
         |  SELECT 'all' AS scope, $w10 AS w10 FROM kept),
         |m AS (
         |  SELECT scope, COUNT(*) AS n,
         |    CAST(SUM(w10) AS BIGINT) AS s1,
         |    CAST(SUM(w10 * w10) AS BIGINT) AS s2
         |  FROM rows_ GROUP BY scope)
         |SELECT scope, n,
         |  CAST(s1 AS DOUBLE) / 10.0 AS sum_w,
         |  CAST(s1 * s1 * 1000000 // s2 AS DOUBLE) / 1000000.0 AS ess,
         |  CAST(s1 * s1 * 1000000 // (s2 * n) AS DOUBLE) / 1000000.0
         |    AS ess_ratio
         |FROM m ORDER BY scope""".stripMargin
    },

    "text_lang_ngram" -> {
      val h = LlmPipeline.h48Sql("'langid:' || CAST(doc_id AS VARCHAR)")
      s"""WITH docs AS (
         |  SELECT doc_id, lang, lower(text) AS t, $h % 100 AS bkt
         |  FROM documents WHERE length(lower(text)) >= 3),
         |tg AS (SELECT doc_id, lang,
         |    unnest(list_transform(range(1, length(t) - 1),
         |      i -> substr(t, CAST(i AS INT), 3))) AS g
         |  FROM docs WHERE bkt >= 20),
         |lp AS (SELECT lang, g, rl FROM (
         |    SELECT lang, g, ROW_NUMBER() OVER (PARTITION BY lang
         |        ORDER BY COUNT(*) DESC, g ASC) AS rl
         |    FROM tg GROUP BY lang, g)
         |  WHERE rl <= 32),
         |vg AS (SELECT doc_id, lang,
         |    unnest(list_transform(range(1, length(t) - 1),
         |      i -> substr(t, CAST(i AS INT), 3))) AS g
         |  FROM docs WHERE bkt < 20),
         |dp AS (SELECT doc_id, g, rd FROM (
         |    SELECT doc_id, g, ROW_NUMBER() OVER (PARTITION BY doc_id
         |        ORDER BY COUNT(*) DESC, g ASC) AS rd
         |    FROM vg GROUP BY doc_id, g)
         |  WHERE rd <= 32),
         |langs AS (SELECT DISTINCT lang FROM documents),
         |dist AS (
         |  SELECT dp.doc_id, l.lang AS cand,
         |    SUM(COALESCE(abs(dp.rd - lp.rl), 32)) AS dist
         |  FROM dp CROSS JOIN langs l
         |  LEFT JOIN lp ON lp.lang = l.lang AND lp.g = dp.g
         |  GROUP BY dp.doc_id, l.lang),
         |pred AS (SELECT doc_id, cand AS lang_pred FROM (
         |    SELECT doc_id, cand, ROW_NUMBER() OVER (PARTITION BY doc_id
         |        ORDER BY dist ASC, cand ASC) AS rnk FROM dist)
         |  WHERE rnk = 1),
         |conf AS (
         |  SELECT d.lang AS lang_true, p.lang_pred, COUNT(*) AS n
         |  FROM docs d JOIN pred p USING (doc_id) WHERE d.bkt < 20
         |  GROUP BY d.lang, p.lang_pred),
         |grid AS (SELECT a.lang AS lang_true, b.lang AS lang_pred
         |         FROM langs a CROSS JOIN langs b),
         |filled AS (SELECT g.lang_true, g.lang_pred,
         |    COALESCE(conf.n, 0) AS n_docs
         |  FROM grid g LEFT JOIN conf ON conf.lang_true = g.lang_true
         |    AND conf.lang_pred = g.lang_pred),
         |rt AS (SELECT lang_true, CAST(SUM(n_docs) AS BIGINT) AS row_total
         |       FROM filled GROUP BY lang_true)
         |SELECT f.lang_true, f.lang_pred, f.n_docs,
         |  CASE WHEN rt.row_total > 0 THEN f.n_docs * 1000000 // rt.row_total
         |       ELSE 0 END AS row_ppm
         |FROM filled f JOIN rt USING (lang_true)
         |ORDER BY f.lang_true, f.lang_pred""".stripMargin
    },

    "text_ppl_bucket" ->
      s"""WITH ${LlmPipeline.pplCoreSql},
         |b AS (
         |  SELECT d.lang, p.doc_id, p.n_tok, p.ppl,
         |    NTILE(3) OVER (PARTITION BY d.lang
         |      ORDER BY p.ppl ASC, p.doc_id ASC) AS bucket
         |  FROM ppl p JOIN documents d USING (doc_id)),
         |g AS (
         |  SELECT lang, bucket, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |    MIN(ppl) AS min_ppl, MAX(ppl) AS max_ppl,
         |    CAST(SUM(CAST(ppl AS DECIMAL(20,6))) * 1000000 AS BIGINT) AS s6
         |  FROM b GROUP BY lang, bucket)
         |SELECT lang, CAST(bucket AS BIGINT) AS bucket, n_docs, n_tokens,
         |  min_ppl, max_ppl,
         |  CAST((s6 * 2 + n_docs) // (n_docs * 2) AS DOUBLE) / 1000000.0
         |    AS mean_ppl
         |FROM g ORDER BY lang, bucket""".stripMargin,
  )
}
