package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.MinHashAgg

/** Text deduplication — public API over any (id, text) DataFrame.
  *
  * Four scalable strategies, strongest-guarantee first:
  *  - [[exact]]: normalized-hash groupBy (one shuffle, scale-free);
  *  - [[jaccardJoin]]: EXACT n-gram Jaccard >= t via AllPairs prefix
  *    filtering (provably lossless candidate pruning);
  *  - [[minhashPairs]]: MinHash + LSH banding (probabilistic recall,
  *    fixed-size signatures — the unbounded-corpus path);
  *  - [[simhashPairs]]: SimHash Hamming-distance pairs.
  *
  * Portable hashing: signature hashes derive from md5 (reproducible in any
  * engine, see [[MinHashAgg.params]]); set algebra runs on xxhash64-hashed
  * shingles (cardinalities preserved modulo ~1e-15/pair collision odds).
  */
/** How iterative jobs truncate lineage between rounds.
  *
  *  - [[CheckpointStrategy.Local]] stores blocks in executor block
  *    managers (`localCheckpoint`): no distributed-FS round trip, but a
  *    lost executor loses its blocks and kills the job — right for
  *    local-mode runs and short jobs.
  *  - [[CheckpointStrategy.Reliable]] writes to the Spark checkpoint
  *    directory (`SparkContext.setCheckpointDir`, typically HDFS/S3):
  *    survives executor loss — the correct default for multi-round jobs
  *    on a real cluster, where losing round N of 20 to one preempted
  *    executor is otherwise unrecoverable. */
sealed trait CheckpointStrategy {
  /** Materialize `df` eagerly and truncate its lineage per this strategy —
    * the reuse-point primitive every iterative / multiply-consumed plan in
    * the engine goes through (connected components, PageRank, Jaccard
    * affinity, kNN join), so swapping Local → Reliable is one argument at
    * every site, not a code change. */
  def materialize(df: DataFrame): DataFrame

  /** Materialize `df` eagerly, hash-partitioned on `keys`, such that the
    * returned frame's scan DECLARES that partitioning — downstream
    * equi-joins on `keys` read it exchange-free (r14; a plain
    * [[materialize]] under AQE reports UnknownPartitioning and every
    * consumer join re-shuffles the table — see
    * [[org.apache.spark.sql.graft.Bridge.checkpointHashPartitioned]]). */
  def materializeHashed(df: DataFrame, numParts: Int,
      keys: Seq[String]): DataFrame
}
object CheckpointStrategy {
  case object Local extends CheckpointStrategy {
    // SERIALIZED blocks, not the default deserialized level: a
    // deserialized checkpoint holds one UnsafeRow object per row live on
    // the heap for the checkpoint's lifetime, and on a large heap (the
    // round-9 env stamps record ~89 GiB) nothing ever spills, so G1 traces
    // millions of row objects every cycle and multi-second pauses land
    // inside the work being measured — a same-machine A/B of the
    // checkpoint-heaviest query read 2.8 s at 16g vs 5.2-11 s at 90g on
    // identical code. MEMORY_AND_DISK_SER packs each partition into a few
    // large byte arrays: object count stays O(partitions), GC pauses stay
    // flat regardless of heap size, and UnsafeRow serialization is a
    // near-memcpy so the pack cost is noise.
    def materialize(df: DataFrame): DataFrame =
      df.localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    def materializeHashed(df: DataFrame, numParts: Int,
        keys: Seq[String]): DataFrame =
      org.apache.spark.sql.graft.Bridge
        .checkpointHashPartitioned(df, numParts, keys)
  }
  case object Reliable extends CheckpointStrategy {
    def materialize(df: DataFrame): DataFrame = df.checkpoint(eager = true)
    def materializeHashed(df: DataFrame, numParts: Int,
        keys: Seq[String]): DataFrame =
      df.repartition(numParts, keys.map(col): _*).checkpoint(eager = true)
  }
}

object TextDedup {

  /** Materialize-once for intermediates reused by several downstream joins.
    *
    * An eager `localCheckpoint` instead of `persist()`: the result is
    * computed once and its lineage truncated, and — unlike a DataFrame
    * `persist()`, which pins a CacheManager entry until someone calls
    * `unpersist()` — the backing RDD blocks are released automatically by
    * the ContextCleaner once the returned frame is garbage-collected. No
    * caching contract leaks to the caller. Serialized storage level for
    * the same heap-size-independence reason as [[CheckpointStrategy.Local]]. */
  private def cached(df: DataFrame): DataFrame =
    CheckpointStrategy.Local.materialize(df)

  /** 48-bit portable hash: first 12 hex digits of md5 (engine-agnostic —
    * DuckDB reproduces it as `CAST('0x' || substr(md5(e), 1, 12) AS
    * BIGINT)`). Computed by the native [[graft.expr.Md5Prefix48]]
    * (bit-identical to the `conv(substring(md5(c), 1, 12), 16, 10)` chain,
    * without the hex-string round-trip — ExpressionSpec pins equality). */
  def h48(c: Column): Column = graft.expr.Md5Prefix48.md548(c)

  /** Word n-gram shingles of a whitespace-tokenized text column.
    *
    * WARNING (Catalyst expression-shape hazard): referencing a `split`
    * expression inside this HOF lets CollapseProject inline the split into
    * EVERY `element_at` evaluation — the tokenize re-runs ~3n times per
    * document. Use [[shingleRows]] (a Generate barrier materializes the
    * token array once per row) for anything corpus-sized; this Column
    * form remains for small/ad-hoc frames and oracle parity. */
  def shingles(tokens: Column, n: Int = 3): Column =
    transform(sequence(lit(1), size(tokens) - (n - 1)), i =>
      concat_ws(" ", (0 until n).map(j => element_at(tokens, i + j)): _*))

  /** (id, text) → one row per word-n-gram occurrence: (id, sh).
    *
    * The scale shape for shingling: the token array passes through a
    * Generate (explode of shingle-position indices), so `split` runs
    * exactly once per document and each shingle is n `element_at` lookups
    * — CollapseProject cannot inline the tokenizer into the per-shingle
    * loop (it would go quadratic; measured 5x on the harness corpus).
    * Docs shorter than n tokens yield no rows. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val toks = split(col(textCol), " ")
    docs.filter(size(toks) >= n)
      .select(col(idCol), toks.as("__toks"))
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - (n - 1))).as("__i"))
      .select(col(idCol),
        concat_ws(" ", (0 until n).map(j =>
          element_at(col("__toks"), col("__i") + j)): _*).as("sh"))
  }

  /** (id, text) → (id, sset: array<long>) of distinct xxhash64'd shingles;
    * docs shorter than n tokens are dropped (no shingles). Element order
    * is unspecified (set semantics — every consumer sorts or takes
    * sizes).
    *
    * Built per-row by the native [[graft.expr.ShingleXx64]] (one byte
    * walk, each shingle hashed as a byte span of the original buffer) —
    * NO row explosion and NO groupBy shuffle. The Generate + collect_list
    * pipeline this replaces shuffled one row per shingle of the corpus
    * just to reassemble per-doc sets; at 100 TB that shuffle was the
    * dominant cost of candidate generation. Hash values are identical
    * (ExpressionSpec pins both formulations equal), so results are
    * unchanged. */
  def hashedShingleSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    docs.select(col(idCol),
        array_distinct(
          graft.expr.ShingleXx64.shingleXx64(col(textCol), n)).as("sset"))
      .filter(size(col("sset")) >= 1)

  /** Exact Jaccard of two distinct-element array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Exact dedup by normalized text: groups rows whose lower/trimmed text
    * hashes equal; keeps the minimum id per group. Output:
    * (kept_id, n_copies). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("__h", md5(lower(trim(col(textCol)))))
      .groupBy(col("__h"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))
      .select(col("kept_id"), col("n_copies"))

  /** EXACT bipartite Jaccard-threshold join with AllPairs prefix filtering
    * (Bayardo et al., WWW'07): each set is sorted in a canonical order
    * (ascending shingle hash) and only its first |S|-⌈t·|S|⌉+1 elements
    * are exploded (computed as |S|-floor(t·|S|)+1 — see the ulp note in
    * [[containmentJoin]]); any pair with J >= t must share a prefix element
    * (pigeonhole), so the equi-join is a lossless candidate generator. A
    * size-ratio bound (t*|B| <= |A| <= |B|/t) prunes further; exact
    * Jaccard verifies. Output: (left_id, right_id, jacc rounded).
    *
    * Skew: prefix-shingle frequency is Zipfian on real corpora (stopword
    * shingles), so one shingle key can swallow a reducer. With
    * `saltFactor > 1`, shingles whose right-side prefix frequency exceeds
    * `hotDf` are salted deterministically — each left row of a hot key
    * joins under `xxhash64(left_id) % saltFactor`, the right rows
    * replicate across all `saltFactor` salts — splitting the hot key over
    * `saltFactor` reducers. Every (left, right) pair still meets in
    * exactly one salt bucket, so the candidate set (and the output) is
    * UNCHANGED — pure skew mitigation, asserted by equality in ApiSpec. */
  def jaccardJoin(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, threshold: Double, n: Int = 3,
      roundTo: Int = 6, saltFactor: Int = 1, hotDf: Long = 4096): DataFrame = {
    // one materialized shingle-set table per side feeds BOTH candidate
    // generation and the verify join
    val ls = cached(hashedShingleSets(left, idCol, textCol, n)
      .select(col(idCol).as("left_id"), col("sset").as("lset")))
    val rs = cached(hashedShingleSets(right, idCol, textCol, n)
      .select(col(idCol).as("right_id"), col("sset").as("rset")))
    jaccardJoinSets(ls, rs, threshold, roundTo, saltFactor, hotDf)
  }

  /** [[jaccardJoin]] where left and right are two DISJOINT slices of ONE
    * frame, selected by `leftSide` (a predicate over `idCol` only — it is
    * evaluated after shingling, so it must not reference `textCol`): the
    * corpus is scanned and shingled ONCE into one materialized set table
    * carrying the side flag, and both join sides are narrow filters over
    * those blocks. The two-frame form pays that scan + checkpoint twice —
    * at 100 TB the band predicate prunes nothing at the parquet reader, so
    * this is the difference between one full corpus pass and two (r14,
    * guide §2.4/§6). Rows with `leftSide` null are dropped (neither side).
    * Output: byte-identical to `jaccardJoin(docs.filter(leftSide),
    * docs.filter(!leftSide), ...)` — ApiSpec pins the equality. */
  def jaccardJoinSplit(docs: DataFrame, idCol: String, textCol: String,
      leftSide: Column, threshold: Double, n: Int = 3,
      roundTo: Int = 6, saltFactor: Int = 1, hotDf: Long = 4096): DataFrame = {
    val sets = cached(hashedShingleSets(docs, idCol, textCol, n)
      .withColumn("__left", leftSide))
    val ls = sets.filter(col("__left"))
      .select(col(idCol).as("left_id"), col("sset").as("lset"))
    val rs = sets.filter(!col("__left"))
      .select(col(idCol).as("right_id"), col("sset").as("rset"))
    jaccardJoinSets(ls, rs, threshold, roundTo, saltFactor, hotDf)
  }

  /** Shared candidate-generation + verify body over prepared
    * (left_id, lset) / (right_id, rset) tables — see [[jaccardJoin]] for
    * the algorithm and the salting contract. */
  private def jaccardJoinSets(ls: DataFrame, rs: DataFrame,
      threshold: Double, roundTo: Int, saltFactor: Int,
      hotDf: Long): DataFrame = {
    def prefixed(sets: DataFrame, id: String, set: String) =
      sets
        .withColumn("__n", size(col(set)))
        // floor, not ceil: same 1-ulp guard as containmentJoin — a t·n
        // product landing just above an integer must not shorten the
        // prefix; floor costs at most one extra prefix element
        .withColumn("__plen",
          (col("__n") - floor(lit(threshold) * col("__n")) + 1).cast("int"))
        .select(col(id), col("__n"),
          explode(slice(array_sort(col(set)), lit(1), col("__plen"))).as("psh"))
    val lp = prefixed(ls, "left_id", "lset")
      .select(col("left_id"), col("__n").as("ln"), col("psh"))
    val rp = prefixed(rs, "right_id", "rset")
      .select(col("right_id"), col("__n").as("rn"), col("psh"))
    val joined =
      if (saltFactor <= 1) lp.join(rp, "psh")
      else {
        // hot = prefix shingles whose right-side frequency exceeds hotDf;
        // a small aggregate over the already-exploded prefix rows
        val hot = rp.groupBy(col("psh"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > hotDf)
          .select(col("psh"), lit(true).as("__hot"))
        val lps = lp.join(hot, Seq("psh"), "left")
          .withColumn("__salt",
            when(col("__hot"),
              pmod(xxhash64(col("left_id")), lit(saltFactor)).cast("int"))
              .otherwise(lit(0)))
          .drop("__hot")
        val rps = rp.join(hot, Seq("psh"), "left")
          .withColumn("__salt", explode(
            when(col("__hot"), sequence(lit(0), lit(saltFactor - 1)))
              .otherwise(sequence(lit(0), lit(0)))))
          .drop("__hot")
        lps.join(rps, Seq("psh", "__salt"))
      }
    val cand = joined
      .filter(col("ln") >= lit(threshold) * col("rn") &&
        col("rn") >= lit(threshold) * col("ln"))
      .select(col("left_id"), col("right_id")).distinct()
    // shuffle-hash verify join: the candidate-pair count is data-dependent
    // (a duplicate-heavy corpus yields billions of pairs), so it must never
    // be collected to the driver for a broadcast — an equi-join shuffled on
    // the id keys is the shape that survives any corpus
    cand.hint("shuffle_hash")
      .join(ls, "left_id").join(rs, "right_id")
      .withColumn("jacc", jaccard(col("lset"), col("rset")))
      .filter(col("jacc") >= threshold)
      .select(col("left_id"), col("right_id"),
        round(col("jacc"), roundTo).as("jacc"))
  }

  /** EXACT bipartite CONTAINMENT-threshold join: pairs where
    * |shingles(A) ∩ shingles(B)| / |shingles(A)| >= t — the asymmetric
    * near-dup relation Jaccard misses (a truncation, excerpt, or quoted
    * subset of a longer document scores low Jaccard but containment ~1;
    * production pipelines use it to collapse prefix-crawls and
    * boilerplate-wrapped copies onto their supersets).
    *
    * Candidate pruning is the one-sided pigeonhole: if |A∩B| >= ceil(t·|A|)
    * then at most |A| − ceil(t·|A|) elements of A miss B, so ANY
    * (|A| − ceil(t·|A|) + 1)-element prefix of A must hit B — only that
    * prefix of A explodes (in canonical ascending-hash order for
    * determinism), equi-joined against B's full inverted shingle index.
    * The prefix length computes with floor(t·|A|), not ceil: when t·|A|
    * sits within 1 ulp ABOVE an integer in IEEE arithmetic, ceil of the
    * inflated product would shorten the prefix by one and silently drop a
    * pair exactly at the threshold — floor over-approximates by at most
    * one extra prefix element (a few % more candidates, zero recall risk),
    * keeping the byte-identical-to-naive contract for every t. A
    * size bound (|B| >= t·|A|) prunes further; the verify join recomputes
    * the exact intersection, so the output is byte-identical to the naive
    * quadratic join. Unlike [[jaccardJoin]], the RIGHT side cannot be
    * prefix-pruned (containment puts no lower bound on |A∩B|/|B|) — at
    * scale the right index is O(total shingles) rows hash-shuffled once,
    * the same cost class as the corpus-side shingle pass every LSH family
    * here already pays. Output: (left_id, right_id, cont rounded). */
  def containmentJoin(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, threshold: Double, n: Int = 3,
      roundTo: Int = 6): DataFrame = {
    val ls = cached(hashedShingleSets(left, idCol, textCol, n)
      .select(col(idCol).as("left_id"), col("sset").as("lset")))
    val rs = cached(hashedShingleSets(right, idCol, textCol, n)
      .select(col(idCol).as("right_id"), col("sset").as("rset")))
    containmentJoinSets(ls, rs, threshold, roundTo)
  }

  /** [[containmentJoin]] over two disjoint slices of ONE frame — the
    * one-corpus-pass device of [[jaccardJoinSplit]] (same `leftSide`
    * contract: a predicate over `idCol` only, evaluated post-shingling). */
  def containmentJoinSplit(docs: DataFrame, idCol: String, textCol: String,
      leftSide: Column, threshold: Double, n: Int = 3,
      roundTo: Int = 6): DataFrame = {
    val sets = cached(hashedShingleSets(docs, idCol, textCol, n)
      .withColumn("__left", leftSide))
    val ls = sets.filter(col("__left"))
      .select(col(idCol).as("left_id"), col("sset").as("lset"))
    val rs = sets.filter(!col("__left"))
      .select(col(idCol).as("right_id"), col("sset").as("rset"))
    containmentJoinSets(ls, rs, threshold, roundTo)
  }

  private def containmentJoinSets(ls: DataFrame, rs: DataFrame,
      threshold: Double, roundTo: Int): DataFrame = {
    val lp = ls
      .withColumn("__n", size(col("lset")))
      .withColumn("__plen",
        (col("__n") - floor(lit(threshold) * col("__n")) + 1).cast("int"))
      .select(col("left_id"), col("__n").as("ln"),
        explode(slice(array_sort(col("lset")), lit(1), col("__plen")))
          .as("psh"))
    val ri = rs.select(col("right_id"), size(col("rset")).as("rn"),
      explode(col("rset")).as("psh"))
    val cand = lp.join(ri, "psh")
      .filter(col("rn").cast("double") >= lit(threshold) * col("ln"))
      .filter(col("left_id") =!= col("right_id"))
      .select(col("left_id"), col("right_id")).distinct()
    // shuffle-hash verify (the jaccardJoin discipline: candidate volume is
    // data-dependent — never collected for a broadcast)
    cand.hint("shuffle_hash")
      .join(ls, "left_id").join(rs, "right_id")
      .withColumn("cont",
        size(array_intersect(col("lset"), col("rset"))).cast("double") /
          size(col("lset")).cast("double"))
      .filter(col("cont") >= threshold)
      .select(col("left_id"), col("right_id"),
        round(col("cont"), roundTo).as("cont"))
  }

  /** MinHash signatures: (id, sig: array<long>) — K affine re-hashes of
    * the 48-bit shingle hashes, min-reduced per document.
    *
    * Computed per ROW by the native [[graft.expr.MinHashSig]] (one
    * token-boundary walk, one md5 per shingle byte span, K affine
    * updates) — no shingle explosion, no aggregation state, no shuffle:
    * the signature stage stays inside the scan's whole-stage codegen.
    * Bit-identical to the explode → [[MinHashAgg]] pipeline
    * (ExpressionSpec pins equality; min is idempotent so occurrence
    * multiplicity cannot matter). For inputs that are ALREADY exploded
    * hash rows (a different tokenizer, pre-hashed shingles), use
    * [[sigsFromRows]] — the UDAF path with fixed 256-byte state and
    * map-side partial merge. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val sig = graft.expr.MinHashSig.minhashSig(col(textCol), n)
    docs.select(col(idCol), sig.as("sig")).filter(col("sig").isNotNull)
  }

  /** MinHash signatures from pre-exploded hash rows (id, hv) with
    * `hv` already reduced mod [[MinHashAgg.P]] — the distributed
    * aggregation path ([[MinHashAgg]] UDAF, fixed 256-byte state,
    * map-side partial merge) for callers whose shingling/hashing is
    * custom. [[minhashSignatures]] (per-row, shuffle-free) is the
    * preferred path when the input is (id, text).
    *
    * Perf note: ObjectHashAggregate's sort fallback defaults to 128
    * in-memory groups, far too low for tiny fixed-size sketch buffers.
    * Sessions should raise
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (see
    * [[graft.GraftExtensions.recommendedConfs]]); this function does NOT
    * mutate the caller's session. */
  def sigsFromHashRows(rows: DataFrame, idCol: String, hvCol: String): DataFrame =
    rows
      .groupBy(col(idCol))
      .agg(MinHashAgg.minhash(col(hvCol)).as("sig"))

  private[graft] def sigsFromRows(rows: DataFrame, idCol: String): DataFrame =
    rows
      .withColumn("__hv", h48(col("sh")) % MinHashAgg.P)
      .groupBy(col(idCol))
      .agg(MinHashAgg.minhash(col("__hv")).as("sig"))

  /** LSH INDEX rows for a corpus: (id, band, bkey) — the persistable
    * form of the banded MinHash signatures. Write this to storage once
    * per corpus version and incremental dedup ([[minhashIncremental]])
    * probes it per delta batch without ever rescanning the corpus;
    * append each accepted batch's own rows to keep the index current.
    * Pure per-row projection (native [[graft.expr.MinHashSig]]) — no
    * shuffle to build. */
  def minhashIndex(docs: DataFrame, idCol: String, textCol: String,
      nBands: Int = 8, rowsPerBand: Int = 4, n: Int = 3): DataFrame = {
    require(nBands * rowsPerBand == MinHashAgg.K,
      s"banding ${nBands}x$rowsPerBand must cover K=${MinHashAgg.K}")
    val sigs = minhashSignatures(docs, idCol, textCol, n)
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r + 1)): _*).as("bkey"))
    }
    sigs.select(col(idCol), explode(array(bandCols: _*)).as("bd"))
      .select(col(idCol), col("bd.band").as("band"),
        col("bd.bkey").as("bkey"))
  }

  /** INCREMENTAL near-dup: a delta batch against a PREBUILT LSH index
    * ([[minhashIndex]]) and its corpus — the production shape where a
    * new crawl/ingest batch dedups in O(|delta| + |candidates|), never
    * O(|corpus|): candidates come from the delta-bands ⋈ index equi-join,
    * the corpus is then read ONLY for candidate docs (a semi-join prune
    * before any shingling — at 100 TB this is the difference between
    * fetching a few thousand docs and rescanning the corpus), and exact
    * Jaccard verifies at >= threshold. Output: (delta_id, base_id, jacc). */
  def minhashIncremental(index: DataFrame, baseDocs: DataFrame,
      delta: DataFrame, idCol: String, textCol: String, threshold: Double,
      nBands: Int = 8, rowsPerBand: Int = 4, n: Int = 3,
      roundTo: Int = 6): DataFrame = {
    val dBands = minhashIndex(delta, idCol, textCol, nBands, rowsPerBand, n)
    val cand = dBands.as("x").join(index.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col(s"x.$idCol").as("delta_id"), col(s"y.$idCol").as("base_id"))
      .distinct()
    val candBase = baseDocs.join(
      cand.select(col("base_id").as(idCol)).distinct(), Seq(idCol),
      "left_semi")
    val baseSets = hashedShingleSets(candBase, idCol, textCol, n)
    val deltaSets = hashedShingleSets(delta, idCol, textCol, n)
    cand.hint("shuffle_hash")
      .join(deltaSets.select(col(idCol).as("delta_id"), col("sset").as("sa")),
        "delta_id")
      .join(baseSets.select(col(idCol).as("base_id"), col("sset").as("sb")),
        "base_id")
      .withColumn("jacc", jaccard(col("sa"), col("sb")))
      .filter(col("jacc") >= threshold)
      .select(col("delta_id"), col("base_id"),
        round(col("jacc"), roundTo).as("jacc"))
  }

  /** MinHash + LSH near-dup pairs over one corpus: band equi-join for
    * candidates (id_a < id_b), exact-Jaccard verify at >= threshold.
    * Output: (a, b, jacc rounded). nBands*rowsPerBand must equal
    * [[MinHashAgg.K]]. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, nBands: Int = 8, rowsPerBand: Int = 4,
      n: Int = 3, roundTo: Int = 6): DataFrame = {
    require(nBands * rowsPerBand == MinHashAgg.K,
      s"banding ${nBands}x$rowsPerBand must cover K=${MinHashAgg.K}")
    // both the signatures and the verify-side shingle sets are per-row
    // projections (native MinHashSig / ShingleXx64) — candidate
    // generation's only shuffles are the band join and the verify join.
    // r14 (guide §2.4/§6): ONE materialized (id, sig, sset) table — the
    // band rows are a per-row explode of `sig` and the verify join reads
    // `sset`, so the corpus is scanned + per-row hashed ONCE and
    // checkpointed ONCE (the previous shape checkpointed a band table AND
    // a set table — two full corpus passes). Membership is identical:
    // MinHashSig is null exactly when ShingleXx64 is empty (< n tokens).
    val both = cached(docs.select(col(idCol),
        graft.expr.MinHashSig.minhashSig(col(textCol), n).as("sig"),
        array_distinct(
          graft.expr.ShingleXx64.shingleXx64(col(textCol), n)).as("sset"))
      .filter(col("sig").isNotNull))
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r + 1)): _*).as("bkey"))
    }
    val bands = both
      .select(col(idCol), explode(array(bandCols: _*)).as("bd"))
      .select(col(idCol), col("bd.band").as("band"), col("bd.bkey").as("bkey"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .distinct()
    // same driver-safety rule as jaccardJoin: the pair set is unbounded in
    // general, so verify via shuffled equi-joins, never a broadcast
    cand.hint("shuffle_hash")
      .join(both.select(col(idCol).as("a"), col("sset").as("sa")), "a")
      .join(both.select(col(idCol).as("b"), col("sset").as("sb")), "b")
      .withColumn("jacc", jaccard(col("sa"), col("sb")))
      .filter(col("jacc") >= threshold)
      .select(col("a"), col("b"), round(col("jacc"), roundTo).as("jacc"))
  }

  /** Connected components over a near-duplicate pair list — the step that
    * turns pairwise matches into keep/drop decisions (every doc maps to
    * its component's minimum id, the canonical representative).
    *
    * Min-label propagation with POINTER DOUBLING: each round every node
    * first takes the minimum label among itself and its neighbors, then
    * compresses by adopting its label's own label (`comp ← comp(comp)`).
    * The doubling step halves the remaining path length every round, so
    * convergence is O(log diameter) rounds — a 1M-node chain needs ~20
    * rounds, not 1M. Each round is two hash-shuffle joins + an aggregate;
    * per-round lineage truncation (see [[CheckpointStrategy]] — Local for
    * local runs, Reliable for cluster jobs that must survive executor
    * loss) is exactly how large-scale CC (GraphFrames/Pregel style) runs.
    *
    * Convergence is detected via the label-sum invariant: labels only ever
    * decrease, so the sum of labels is strictly monotone while any label
    * changes — one cheap aggregate per round instead of a self-join diff.
    * The sum is exact `DECIMAL(38,0)` (64-bit ids summed as BIGINT would
    * overflow past `Long.MaxValue`) and 0 on an empty pair list.
    * Throws if `maxIter` rounds pass without convergence (never silently
    * returns wrong components). Output: (id, component) — component = min
    * doc id reachable. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50,
      checkpoint: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    // per-round lineage truncation: Local for local-mode/short jobs;
    // Reliable (requires SparkContext.setCheckpointDir) for cluster runs
    // where a lost executor must not kill a multi-round job
    val trunc: DataFrame => DataFrame = checkpoint.materialize
    val sym = trunc(pairs.select(col(aCol).as("x"), col(bCol).as("y"))
      .union(pairs.select(col(bCol).as("x"), col(aCol).as("y")))
      .distinct())
    var labels = trunc(sym.select(col("x").as("id")).distinct()
      .withColumn("component", col("id")))
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("component").cast("decimal(38,0)")), lit(0)))
        .head.getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("y"), col("component").as("ycomp")), "y")
        .groupBy(col("x")).agg(min(col("ycomp")).as("nmin"))
      val prop = labels
        .join(nbrMin.select(col("x").as("id"), col("nmin")), Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"))
      // pointer doubling: component ← component(component)
      val parents = prop.select(col("id").as("__pid"), col("component").as("__pcomp"))
      val updated = trunc(prop
        .join(parents, prop("component") === parents("__pid"), "left")
        .select(prop("id"),
          coalesce(col("__pcomp"), prop("component")).as("component")))
      val s = labelSum(updated)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = updated
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "component labels would be wrong; raise maxIter")
    labels
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03): hash every
    * character k-gram, slide a window of w consecutive hashes, keep each
    * window's minimum. Guarantee: any common substring of length
    * >= w + k - 1 between two documents yields a shared fingerprint hash.
    * Output: one (id, hv) row per distinct selected hash.
    *
    * Expression-shape note: BOTH per-document stages are native
    * expressions. Gram hashing runs in [[graft.expr.GramHash48]] (one
    * UTF-8 boundary walk + byte-slice digests; the HOF
    * transform/substring chain it replaces rescans the string per gram
    * position and boxes per element — ExpressionSpec pins bit-equality).
    * Window minima run inside [[graft.expr.SlidingMin]] (monotonic deque,
    * O(grams) per doc) — a nested HOF over the gram column would
    * quadratically inline the gram hashing (CollapseProject), and the
    * earlier explode-window-indices shape materialized one row + one
    * w-element slice copy per window ahead of a corpus-wide distinct
    * shuffle. Here each document contributes one row in, ~|selected| rows
    * out, deduped per doc before any shuffle. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 16): DataFrame = {
    val grams = graft.expr.GramHash48.gramHash48(col(textCol), k)
    docs
      .filter(length(col(textCol)) >= k + w - 1)
      .select(col(idCol),
        explode(array_distinct(
          graft.expr.SlidingMin.slidingMin(grams, w))).as("hv"))
  }

  /** Winnowing-overlap near-dup pairs (the MOSS shape): documents whose
    * winnowing fingerprints ([[winnowFingerprints]]) share at least
    * `minShared` selected hashes, with the share count as the match
    * strength. By the winnowing guarantee, any common substring of
    * length >= w + k - 1 yields a shared fingerprint — this is the
    * copy/boilerplate detector that Jaccard-style shingle dedup misses
    * when the overlap is a long verbatim span inside otherwise-different
    * documents.
    *
    * Scale shape: candidates come from an equi-join on the fingerprint
    * hash (hash shuffle on `hv`, never all-pairs). Fingerprints whose
    * document frequency exceeds `maxDf` are dropped FIRST — corpus-wide
    * boilerplate (license headers, templates) otherwise turns one hash
    * into a quadratic hot key; the df cap is the standard winnowing
    * practice and bounds every hv group, so the pair space is
    * Σ_hv df(hv)² with df <= maxDf. The pair aggregation shuffles
    * already-bounded (a, b) rows. Output: (a, b, shared), a < b. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 16, minShared: Int = 2,
      maxDf: Long = 64): DataFrame = {
    val fp = cached(winnowFingerprints(docs, idCol, textCol, k, w))
    val rare = fp.groupBy(col("hv"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("hv"))
    val kept = fp.join(rare, Seq("hv"))
    kept.as("x").hint("shuffle_hash")
      .join(kept.as("y"),
        col("x.hv") === col("y.hv") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** SimHash signatures: (id, simhash) — bit j is the sign of the sum of
    * ±1 votes from each shingle hash's bit j.
    *
    * Computed per ROW by the native [[graft.expr.SimHash48]] (one
    * token-boundary walk, one md5 per shingle occurrence, `bits` local
    * vote counters) — the explode → `bits`-column sum() groupBy pipeline
    * it replaces carried 48 aggregate buffers per document through a
    * hash aggregate and a shuffle. Bit-identical (ExpressionSpec pins
    * equality on corpus + adversarial spacing; occurrence multiplicity
    * matters for votes and both forms count every shingle position). */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 48, n: Int = 3): DataFrame = {
    val sig = graft.expr.SimHash48.simhash48(col(textCol), n, bits)
    docs.select(col(idCol), sig.as("simhash")).filter(col("simhash").isNotNull)
  }

  /** All pairs (a < b) within Hamming distance <= maxHamming of their
    * SimHash signatures, via pigeonhole bit-block LSH (the Manku/WWW'07
    * near-dup shape): the `bits`-bit signature splits into
    * `maxHamming + 1` contiguous blocks, and any pair with at most
    * `maxHamming` differing bits must agree EXACTLY on at least one block
    * (pigeonhole), so an equi-join on (block_index, block_bits) is a
    * provably lossless candidate generator — one hash shuffle on the
    * block key, never an all-pairs comparison. Candidates are verified
    * with the exact `bit_count(xor)` distance, inline in the join stage,
    * so the output is byte-identical to the naive quadratic self-join.
    *
    * Selectivity scales with block width = bits/(maxHamming+1): the
    * production setting (64-bit signatures, maxHamming <= 3 → 16-bit
    * blocks) prunes ~2^16-fold per bucket; a loose threshold like the
    * harness's 48/10 (4-5-bit blocks) still verifies most pairs — the
    * equi-join shape distributes that work where all-pairs cannot, but
    * for unbounded corpora tighten maxHamming or widen `bits`.
    * Output: (a, b, hamming). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, bits: Int = 48, n: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming=$maxHamming must be in [0, bits=$bits)")
    val sig = cached(simhashSignatures(docs, idCol, textCol, bits, n))
    // block layout: bits split as evenly as possible over maxHamming+1
    // blocks (the first `bits % nBlocks` blocks get one extra bit)
    val nBlocks = maxHamming + 1
    val sizes = IndexedSeq.tabulate(nBlocks)(j =>
      bits / nBlocks + (if (j < bits % nBlocks) 1 else 0))
    val offsets = sizes.scanLeft(0)(_ + _)
    val blockCols = (0 until nBlocks).map { j =>
      struct(lit(j).as("blk"),
        shiftright(col("simhash"), offsets(j))
          .bitwiseAND(lit((1L << sizes(j)) - 1)).as("bval"))
    }
    // each block row carries the full signature, so the Hamming verify
    // runs INLINE in the join's codegen stage — the (possibly large)
    // candidate stream is filtered down to true pairs before any further
    // shuffle; the final distinct only deduplicates pairs that matched on
    // more than one block (already output-sized, tiny)
    val blocks = sig
      .select(col(idCol), col("simhash"), explode(array(blockCols: _*)).as("b"))
      .select(col(idCol), col("simhash"),
        col("b.blk").as("blk"), col("b.bval").as("bval"))
    blocks.as("x").hint("shuffle_hash").join(blocks.as("y"),
        col("x.blk") === col("y.blk") && col("x.bval") === col("y.bval") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .withColumn("hamming",
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))))
      .filter(col("hamming") <= maxHamming)
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"),
        col("hamming").cast("long").as("hamming"))
      .distinct()
  }
}
