package graft

import java.util.{Collections, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

import graft.core.Tables
import graft.core.Numeric.dsumSql

/** SQL-text front door — the modern analogue of the reference's statement
  * entry point (`/root/reference/db.cpp:428-441`, where every interaction
  * is a parsed statement string).
  *
  * [[registerViews]] publishes the harness tables into the session catalog
  * as temp views; [[queriesSql]] carries runnable `spark.sql` text for the
  * declared queries whose semantics are SQL-expressible; [[sql]] executes
  * one by name. A user porting SQL workloads can run them verbatim —
  * including the engine's native `float_dot`, `md5_48` and `sliding_min`
  * functions, which [[GraftExtensions]] registers in the SQL registry.
  *
  * Dialect note: one text per key. [[queriesSql]] serves each key's
  * DuckDB oracle text ([[SparkEntry.oracleSql]]) unless
  * [[sparkOverrides]] holds a Spark-dialect text for it. An override
  * exists only where the oracle text cannot run in Spark, does not
  * return the DataFrame path's exact rows, or plans a partition-less
  * window (`window_lag`; PlanSpec forbids one in any SQL plan). The
  * causes are DuckDB-only syntax, sized-type casts, correlated aggregate
  * subqueries, quoted `date_diff` units, 1-based `p[i]`, `'0x…'` casts
  * and list functions such as `list_transform`. DuckDB names whose
  * meaning Spark lacks are registered by [[GraftExtensions]] with DuckDB
  * semantics — `unnest`, `string_split`, `generate_series`,
  * `quantile_cont`, `epoch_us` and `xor` — so oracle texts using them run
  * unchanged. The oracle texts are the correctness check and are never
  * edited to suit Spark. SqlEntrySpec asserts each entry's SQL result
  * equals the DataFrame path row-for-row, and that no override repeats
  * its key's oracle text.
  *
  * Scale note: a few SQL texts (the dedup families) spell out the
  * SEMANTIC form — e.g. an all-pairs SimHash comparison — rather than the
  * LSH-blocked plan the DataFrame path executes; the SQL front door is the
  * statement-level contract, the declared DataFrame queries are the 100 TB
  * plans. Both return identical rows, which is exactly what the spec pins.
  *
  * The source/sink roundtrips (`sink_roundtrip`, `source_csv`,
  * `source_json`, `sink_partitioned`, `source_evolution`,
  * `key_lookup_sorted`) perform file writes, so they are not a single
  * SELECT — they live in [[queriesScript]] as multi-STATEMENT scripts
  * (INSERT OVERWRITE DIRECTORY / CREATE VIEW ... USING / CTAS, then the
  * readback SELECT), executed in order by [[runScript]]. That is the
  * closest possible mirror of the reference's actual interface: a REPL
  * consuming a sequence of statements (`db.cpp:549-598`).
  *
  * The connected-components keys (`dedup_cluster`, `dedup_semantic`,
  * `dedup_report`, `dedup_downweight`) cannot be a single SELECT:
  * connected components needs either an iterative fixpoint or a recursive
  * closure with cross-iteration dedup, and Spark 4.1's recursive CTEs
  * reject UNION (distinct) inside the recursion
  * ([UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE] — UNION ALL alone cannot
  * terminate on the cyclic symmetrized pair graph). They ARE statement
  * scripts (VERDICT r10 #3): [[ccRoundStatements]] expands the fixpoint
  * into a BOUNDED number of min-label + pointer-doubling rounds, each a
  * pure INSERT OVERWRITE DIRECTORY statement reading the previous round's
  * parquet — the statement-level analogue of the DataFrame loop's
  * per-round checkpoint barrier. The DataFrame path stays the production
  * plan (it detects convergence and THROWS if the round budget is too
  * small; a fixed script cannot), and SqlEntrySpec pins script ≡
  * DataFrame row-for-row. The only key with no statement text at all is
  * `meta_vacuum` — a physical file DELETE, which SQL has no statement for.
  */
object SqlCatalog {

  /** What [[registerViews]] last registered per session: table name →
    * (file stamp, catalog entry). Weak keys, as in [[graft.core.Tables]]. */
  private val registered = Collections.synchronizedMap(
    new WeakHashMap[SparkSession, ConcurrentHashMap[String, ((String, Long, Long), AnyRef)]]())

  /** Register every harness table under its canonical name. Idempotent;
    * the scans stay pushed-down parquet reads (no materialization), and no
    * call runs a Spark job: [[graft.core.Tables]] reads each file's schema
    * from its footer on the driver, once per session. A later call re-registers
    * a table only if its file's stamp (path, mtime, length) differs, which
    * also covers another `sfDir`, or if the session catalog no longer holds
    * the exact entry registered here (a user's `CREATE OR REPLACE TEMP
    * VIEW` or `DROP VIEW`). Otherwise it costs one `getFileStatus` and one
    * catalog lookup per table, and runs no Spark job. */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    val memo = registered.computeIfAbsent(spark, _ => new ConcurrentHashMap())
    Tables.All.foreach { t =>
      val stamp = Tables.stamp(spark, Tables.path(sfDir, t))
      val current = Option(memo.get(t)).exists { case (s, entry) =>
        s == stamp && Bridge.tempView(spark, t).exists(_ eq entry)
      }
      if (!current) {
        Tables(spark, sfDir, t).createOrReplaceTempView(t)
        memo.put(t, (stamp, Bridge.tempView(spark, t).get))
      }
    }
  }

  // ------------------------------------------------- Spark-dialect helpers

  /** Planted-variant dedup corpus (Spark dialect of LlmPipeline.corpusSql). */
  private val corpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, upper(text) || '  ' FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000,
      |         array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 2), ' ')
      |  FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** Shared per-doc perplexity CTE chain (Spark dialect), ending at the
    * `ppl` CTE `(doc_id, n_tok, ppl)` — the statement body of
    * `text_perplexity`, reused by `text_ppl_bucket`. */
  private val pplCoreSparkSql: String =
    """raw AS (
      |  SELECT doc_id, pos, tok
      |  FROM (SELECT doc_id, posexplode(split(text, ' ')) AS (pos, tok)
      |        FROM documents)),
      |counts AS (SELECT tok, COUNT(*) AS c FROM raw GROUP BY tok),
      |vocab AS (SELECT tok FROM counts ORDER BY c DESC, tok LIMIT 24),
      |t AS (SELECT doc_id, pos, mtok,
      |    lag(mtok) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
      |  FROM (SELECT r.doc_id, r.pos,
      |      CASE WHEN v.tok IS NULL THEN '<unk>' ELSE r.tok END AS mtok
      |    FROM raw r LEFT JOIN vocab v ON r.tok = v.tok)),
      |uni AS (SELECT CASE WHEN v.tok IS NULL THEN '<unk>' ELSE c.tok END AS mtok,
      |    SUM(c.c) AS c
      |  FROM counts c LEFT JOIN vocab v ON c.tok = v.tok GROUP BY 1),
      |nt AS (SELECT SUM(c) AS nt FROM counts),
      |bg AS (SELECT w1, mtok, COUNT(*) AS c12 FROM t
      |       WHERE w1 IS NOT NULL GROUP BY w1, mtok),
      |c1t AS (SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY w1),
      |scored AS (SELECT t.doc_id,
      |    round(ln(CASE WHEN t.w1 IS NULL
      |      THEN CAST(u.c AS DOUBLE) / CAST(nt.nt AS DOUBLE)
      |      ELSE 0.7 * (CAST(b.c12 AS DOUBLE) / CAST(c.c1 AS DOUBLE))
      |        + 0.3 * (CAST(u.c AS DOUBLE) / CAST(nt.nt AS DOUBLE)) END), 8)
      |      AS lp
      |  FROM t JOIN uni u ON t.mtok = u.mtok CROSS JOIN nt
      |  LEFT JOIN bg b ON t.w1 = b.w1 AND t.mtok = b.mtok
      |  LEFT JOIN c1t c ON t.w1 = c.w1),
      |agg AS (SELECT doc_id, COUNT(*) AS n_tok,
      |    CAST(SUM(CAST(lp AS DECIMAL(20,8))) * 100000000 AS BIGINT) AS s8
      |  FROM scored GROUP BY doc_id),
      |mm AS (SELECT doc_id, n_tok,
      |    CASE WHEN s8 >= 0 THEN (s8 * 2 + n_tok * 100) DIV (n_tok * 200)
      |         ELSE -((-s8 * 2 + n_tok * 100) DIV (n_tok * 200)) END AS micro
      |  FROM agg),
      |ppl AS (SELECT doc_id, n_tok,
      |    CAST(round(exp(-(CAST(micro AS DOUBLE)) / 1000000.0), 6) AS DOUBLE)
      |      AS ppl
      |  FROM mm)""".stripMargin

  /** Curriculum KEPT-set CTE chain (Spark dialect), ending at
    * `kept(doc_id, tier, rate)` — shared by `text_curriculum` and
    * `sample_ess`. */
  private val curriculumKeptSparkSql: String =
    """scored AS (
      |  SELECT doc_id, round(
      |    0.3 * least(1.0, CAST(size(split(text, ' ')) AS DOUBLE) / 100.0)
      |    + 0.4 * (1.0 - CAST(size(filter(split(text, ' '),
      |          x -> x IN ('the', 'a', 'value', 'data'))) AS DOUBLE)
      |        / CAST(size(split(text, ' ')) AS DOUBLE))
      |    + 0.3 * CAST(length(regexp_replace(text, '[^a-z]', '')) AS DOUBLE)
      |        / CAST(length(text) AS DOUBLE), 6) AS score
      |  FROM documents),
      |tiered AS (
      |  SELECT doc_id,
      |    CASE WHEN score >= 0.8 THEN 'high'
      |         WHEN score >= 0.7 THEN 'mid' ELSE 'low' END AS tier
      |  FROM scored),
      |rated AS (
      |  SELECT doc_id, tier,
      |    CASE tier WHEN 'high' THEN 100 WHEN 'mid' THEN 40 ELSE 10 END AS rate
      |  FROM tiered),
      |kept AS (
      |  SELECT doc_id, tier, rate FROM rated
      |  WHERE md5_48(CAST(doc_id AS STRING)) % 100 < rate)""".stripMargin

  /** Word 3-gram shingles of a token-array column `l` (Spark HOFs). */
  private val shingles =
    "transform(sequence(1, size(l) - 2), i -> concat_ws(' ', element_at(l, i), element_at(l, i + 1), element_at(l, i + 2)))"

  private val shingleSetsSql =
    s"""tok AS (SELECT doc_id, split(text, ' ') l FROM corpus),
       |ssets AS (SELECT doc_id, array_distinct($shingles) sset FROM tok WHERE size(l) >= 3)""".stripMargin

  /** Exact Jaccard of two distinct-element array columns (Spark). */
  private val jaccSql =
    """CAST(size(array_intersect(sa.sset, sb.sset)) AS DOUBLE)
      | / CAST(size(sa.sset) + size(sb.sset)
      |        - size(array_intersect(sa.sset, sb.sset)) AS DOUBLE)""".stripMargin

  /** The exact-Jaccard threshold join in its semantic (quadratic) SQL form
    * — identical rows to the prefix-filtered DataFrame plan. */
  private val dedupNearSql =
    s"""WITH $corpusSql,
       |$shingleSetsSql
       |SELECT var_id, base_id, round(jacc, 6) AS jacc FROM (
       |  SELECT sa.doc_id AS var_id, sb.doc_id AS base_id, $jaccSql AS jacc
       |  FROM ssets sa JOIN ssets sb
       |    ON sa.doc_id % 252000 >= 200000 AND sb.doc_id % 252000 < 200000)
       |WHERE jacc >= 0.7
       |ORDER BY var_id, base_id""".stripMargin

  /** MinHash signature CTEs (Spark dialect; constants shared with
    * [[graft.expr.MinHashAgg]] so SQL and DataFrame signatures agree). */
  /** Incremental-dedup statement form: same sig/band algebra as
    * [[minhashSql]] over base ∪ delta, with candidates restricted to
    * delta-side × base-side (the semantic mirror of the index probe). */
  private def minhashIncrementalSql: String = {
    val (p, k, a, b) = graft.expr.MinHashAgg.params
    val nBands = 8
    val r = k / nBands
    val mins = (0 until k).map(i =>
      s"min((${a(i)} * hv + ${b(i)}) % $p) AS mh_$i").mkString(",\n    ")
    val bands = (0 until nBands).map { bnd =>
      val key = (0 until r).map(j => s"CAST(mh_${bnd * r + j} AS STRING)")
        .mkString(", ")
      s"SELECT doc_id, $bnd AS band, concat_ws(',', $key) AS bkey FROM sig"
    }.mkString("\nUNION ALL\n")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 200000,
       |         array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 2), ' ')
       |  FROM documents WHERE doc_id % 7 = 0),
       |$shingleSetsSql,
       |sh AS (SELECT doc_id, explode($shingles) s FROM tok WHERE size(l) >= 3),
       |hv AS (SELECT doc_id, md5_48(s) % $p AS hv FROM sh),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM hv GROUP BY doc_id),
       |bands AS (
       |$bands),
       |cand AS (SELECT DISTINCT x.doc_id AS delta_id, y.doc_id AS base_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey
       |  WHERE x.doc_id % 252000 >= 200000 AND y.doc_id % 252000 < 200000)
       |SELECT delta_id, base_id, round(jacc, 6) AS jacc FROM (
       |  SELECT delta_id, base_id, $jaccSql AS jacc
       |  FROM cand
       |    JOIN ssets sa ON sa.doc_id = delta_id
       |    JOIN ssets sb ON sb.doc_id = base_id)
       |WHERE jacc >= 0.7
       |ORDER BY delta_id, base_id""".stripMargin
  }

  private def minhashSql: String = {
    val (p, k, a, b) = graft.expr.MinHashAgg.params
    val nBands = 8
    val r = k / nBands
    val mins = (0 until k).map(i =>
      s"min((${a(i)} * hv + ${b(i)}) % $p) AS mh_$i").mkString(",\n    ")
    val bands = (0 until nBands).map { bnd =>
      val key = (0 until r).map(j => s"CAST(mh_${bnd * r + j} AS STRING)")
        .mkString(", ")
      s"SELECT doc_id, $bnd AS band, concat_ws(',', $key) AS bkey FROM sig"
    }.mkString("\nUNION ALL\n")
    s"""WITH $corpusSql,
       |$shingleSetsSql,
       |sh AS (SELECT doc_id, explode($shingles) s FROM tok WHERE size(l) >= 3),
       |hv AS (SELECT doc_id, md5_48(s) % $p AS hv FROM sh),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM hv GROUP BY doc_id),
       |bands AS (
       |$bands),
       |cand AS (SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
       |SELECT a, b, round(jacc, 6) AS jacc FROM (
       |  SELECT ia AS a, ib AS b, $jaccSql AS jacc
       |  FROM cand
       |    JOIN ssets sa ON sa.doc_id = ia
       |    JOIN ssets sb ON sb.doc_id = ib)
       |WHERE jacc >= 0.7
       |ORDER BY a, b""".stripMargin
  }

  /** MinHash estimator audit — [[minhashSql]] plus the signature-agreement
    * estimate column per candidate pair. */
  private def minhashAuditSql: String = {
    val (p, k, a, b) = graft.expr.MinHashAgg.params
    val nBands = 8
    val r = k / nBands
    val mins = (0 until k).map(i =>
      s"min((${a(i)} * hv + ${b(i)}) % $p) AS mh_$i").mkString(",\n    ")
    val bands = (0 until nBands).map { bnd =>
      val key = (0 until r).map(j => s"CAST(mh_${bnd * r + j} AS STRING)")
        .mkString(", ")
      s"SELECT doc_id, $bnd AS band, concat_ws(',', $key) AS bkey FROM sig"
    }.mkString("\nUNION ALL\n")
    val est = (0 until k).map(i =>
      s"(CASE WHEN x.mh_$i = y.mh_$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $corpusSql,
       |$shingleSetsSql,
       |sh AS (SELECT doc_id, explode($shingles) s FROM tok WHERE size(l) >= 3),
       |hv AS (SELECT doc_id, md5_48(s) % $p AS hv FROM sh),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM hv GROUP BY doc_id),
       |bands AS (
       |$bands),
       |cand AS (SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |scored AS (
       |  SELECT ia AS a, ib AS b,
       |    round(CAST($est AS DOUBLE) / 32.0, 6) AS est_jacc,
       |    round($jaccSql, 6) AS exact_jacc
       |  FROM cand
       |    JOIN sig x ON x.doc_id = ia
       |    JOIN sig y ON y.doc_id = ib
       |    JOIN ssets sa ON sa.doc_id = ia
       |    JOIN ssets sb ON sb.doc_id = ib)
       |SELECT a, b, est_jacc, exact_jacc,
       |  round(abs(est_jacc - exact_jacc), 6) AS abs_err
       |FROM scored ORDER BY a, b""".stripMargin
  }

  /** SimHash pairs in semantic (all-pairs) SQL form — same rows as the
    * bit-block-LSH DataFrame plan. */
  private def simhashSql: String = {
    val bits = 48
    val bitSums = (0 until bits).map(j =>
      s"sum((shiftright(hv, $j) & 1) * 2 - 1) AS s_$j").mkString(",\n    ")
    val value = (0 until bits).map(j =>
      s"CASE WHEN s_$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    // NB shingle MULTIPLICITY matters here: every occurrence votes ±1 on
    // each bit, so the explode is over the raw shingles, not the set
    s"""WITH $corpusSql,
       |$shingleSetsSql,
       |sh AS (SELECT doc_id, explode($shingles) s FROM tok WHERE size(l) >= 3),
       |hv AS (SELECT doc_id, md5_48(s) AS hv FROM sh),
       |bits AS (SELECT doc_id,
       |    $bitSums
       |  FROM hv GROUP BY doc_id),
       |sig AS (SELECT doc_id, $value AS simhash FROM bits)
       |SELECT x.doc_id AS a, y.doc_id AS b,
       |  CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT) AS hamming
       |FROM sig x JOIN sig y ON x.doc_id < y.doc_id
       |WHERE bit_count(x.simhash ^ y.simhash) <= 10
       |ORDER BY a, b""".stripMargin
  }

  /** Exact cosine via the engine's native `float_dot` (SQL-registered). */
  private def cosFd(x: String, y: String): String =
    s"(float_dot($x, $y) / (sqrt(float_dot($x, $x)) * sqrt(float_dot($y, $y))))"

  private val vecCorpusSql =
    """vcorpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000,
      |         transform(embedding, x -> CAST(x * CAST(1.5 AS FLOAT) AS FLOAT))
      |  FROM embeddings WHERE vec_id % 10 = 0)""".stripMargin

  /** Pixel array of the derived media raster (Spark dialect: 16 md5 bytes
    * as ints via fixed-width hex chunks — mirrors Multimodal.pixels). */
  private val mediaPx =
    "transform(sequence(1, 16), i -> CAST(conv(substr(md5(text), (i - 1) * 2 + 1, 2), 16, 10) AS INT))"

  /** Spark-dialect statement for `embed_pca_power` — HOF pair expansion
    * plus the same 4 unrolled ANSI iteration CTEs the oracle uses
    * ([[graft.ops.Stats.pcaIterSql]]). */
  private lazy val pcaPowerSparkSql: String =
    s"""WITH q AS (
       |  SELECT vec_id, label,
       |    transform(slice(embedding, 1, 8),
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qd
       |  FROM embeddings),
       |pairs AS (
       |  SELECT label, p.i AS i, p.j AS j, p.xi AS xi, p.xj AS xj,
       |    p.xij AS xij
       |  FROM q LATERAL VIEW explode(flatten(transform(sequence(0, 7), i ->
       |    transform(sequence(0, 7), j ->
       |      named_struct('i', i, 'j', j, 'xi', qd[i], 'xj', qd[j],
       |        'xij', qd[i] * qd[j]))))) t AS p),
       |covf AS (
       |  SELECT label, i, j,
       |    CAST(round(CAST(COUNT(*) * SUM(CAST(xij AS DECIMAL(38,0)))
       |        - CAST(SUM(xi) AS DECIMAL(38,0)) * SUM(xj) AS DOUBLE)
       |      / (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) * 1e12),
       |      6) AS DOUBLE) AS cov
       |  FROM pairs GROUP BY label, i, j),
       |v0 AS (
       |  SELECT DISTINCT label, d AS dim,
       |    CASE WHEN d = 0 THEN 1.0 ELSE 0.0 END AS v
       |  FROM covf LATERAL VIEW explode(sequence(0, 7)) t AS d),
       |${(1 to 4).map(graft.ops.Stats.pcaIterSql).mkString(",\n")}
       |SELECT v4.label, CAST(dim AS BIGINT) AS dim,
       |  CAST(round(v4.v, 6) AS DOUBLE) AS component,
       |  CAST(round(n4.nrm, 6) AS DOUBLE) AS eigenvalue
       |FROM v4 JOIN n4 ON v4.label = n4.label
       |ORDER BY v4.label, dim""".stripMargin

  /** The Spark-dialect texts, one per key (see [[sparkOverrides]]). */
  private val sparkDialect: Map[String, String] = Map(
    // MinHash estimator audit (md5_48 + HOF shingle dialect)
    "dedup_minhash_audit" -> minhashAuditSql,

    // greedy k-center: the same 8 unrolled rounds, HOF distance dialect
    "sample_kcenter" -> graft.ops.Horizon.kcenterSqlGen(
      "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))",
      (a, b) => s"aggregate(zip_with($a.qv, $b.qv, (x, y) -> (x - y) * (x - y)), " +
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"),

    // stratified lightweight coreset (posexplode micro-unit dialect; the
    // DuckDB oracle indexes dims via range(1,65) — dim is only an
    // engine-internal join key, so the offset never surfaces)
    "sample_coreset" ->
      """WITH q AS (
        |  SELECT vec_id, label, pos AS dim, col AS qd
        |  FROM embeddings
        |  LATERAL VIEW posexplode(transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))) AS pos, col),
        |sums AS (
        |  SELECT label, dim, CAST(SUM(qd) AS BIGINT) AS sd,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM q GROUP BY label, dim),
        |member AS (
        |  SELECT q.vec_id, q.label,
        |    SUM(CAST(sums.n * q.qd - sums.sd AS DECIMAL(18,0))
        |      * CAST(sums.n * q.qd - sums.sd AS DECIMAL(18,0))) AS d2,
        |    MAX(sums.n) AS n
        |  FROM q JOIN sums ON q.label = sums.label AND q.dim = sums.dim
        |  GROUP BY q.vec_id, q.label),
        |tot AS (
        |  SELECT label, SUM(d2) AS sumd2, CAST(COUNT(*) AS BIGINT)
        |      AS n_label
        |  FROM member GROUP BY label),
        |sens AS (
        |  SELECT member.label, member.vec_id, tot.n_label,
        |    CAST(round(CAST(0.5 AS DOUBLE) / CAST(tot.n_label AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE) * (CAST(member.d2 AS DOUBLE)
        |        / CAST(tot.sumd2 AS DOUBLE)), 8) AS DECIMAL(20,8)) AS s8
        |  FROM member JOIN tot ON member.label = tot.label),
        |cw AS (
        |  SELECT label, vec_id, n_label, s8,
        |    SUM(s8) OVER (PARTITION BY label ORDER BY vec_id) AS cum
        |  FROM sens),
        |st AS (SELECT label, SUM(s8) AS st FROM sens GROUP BY label)
        |SELECT CAST(cw.label AS BIGINT) AS label, cw.vec_id, cw.n_label,
        |  CAST(cw.s8 AS DOUBLE) AS sensitivity,
        |  CAST(round(CAST(st.st AS DOUBLE)
        |    / (CAST(16 AS DOUBLE) * CAST(cw.s8 AS DOUBLE)), 6) AS DOUBLE)
        |    AS weight
        |FROM cw JOIN st ON cw.label = st.label
        |WHERE floor(CAST(cw.cum * 16 AS DOUBLE) / CAST(st.st AS DOUBLE))
        |    > floor(CAST((cw.cum - cw.s8) * 16 AS DOUBLE)
        |        / CAST(st.st AS DOUBLE))
        |ORDER BY label, vec_id""".stripMargin,

    // VARIANT pack (parse_json/variant_get — Spark 4's semi-structured
    // type; the oracle extracts the same values via DuckDB JSON)
    "fn_variant" ->
      """WITH j AS (
        |  SELECT event_id,
        |    '{"u":' || CAST(user_id AS STRING) || ',"m":{"k":'
        |      || get_json_object(props, '$.k') || ',"t":"'
        |      || event_type || '"}}' AS doc
        |  FROM events),
        |v AS (
        |  SELECT event_id,
        |    variant_get(parse_json(doc), '$.u', 'bigint') AS u,
        |    variant_get(parse_json(doc), '$.m.k', 'bigint') AS k,
        |    variant_get(parse_json(doc), '$.m.t', 'string') AS t
        |  FROM j)
        |SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,
        |  CAST(SUM(CASE WHEN k >= 50 THEN 1L ELSE 0L END) AS BIGINT) AS k_hi
        |FROM v GROUP BY t ORDER BY t""".stripMargin,

    // Nelson-Aalen cumulative hazard (datediff dialect, same risk grid
    // as the events_survival statement)
    "events_hazard" ->
      """WITH fe AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    first_value(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS cohort
        |  FROM events),
        |pu AS (
        |  SELECT user_id, cohort, MIN(ts) AS birth,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS death
        |  FROM fe GROUP BY user_id, cohort),
        |wm AS (SELECT MAX(ts) AS wm FROM events),
        |durs AS (
        |  SELECT cohort,
        |    CAST(datediff(CAST(COALESCE(death, wm) AS DATE),
        |      CAST(birth AS DATE)) AS BIGINT) AS dur,
        |    death IS NOT NULL AS died
        |  FROM pu CROSS JOIN wm),
        |grid AS (
        |  SELECT cohort, dur,
        |    SUM(CASE WHEN died THEN 1L ELSE 0L END) AS d,
        |    SUM(CASE WHEN died THEN 0L ELSE 1L END) AS c
        |  FROM durs GROUP BY cohort, dur),
        |curve AS (
        |  SELECT cohort, dur, d,
        |    SUM(d + c) OVER (PARTITION BY cohort)
        |      - COALESCE(SUM(d + c) OVER (PARTITION BY cohort ORDER BY dur
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)
        |      AS n_risk
        |  FROM grid),
        |ch AS (
        |  SELECT cohort, dur, d, n_risk,
        |    SUM(CAST(CASE WHEN d > 0
        |      THEN round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 8)
        |      ELSE 0.0 END AS DECIMAL(20,8)))
        |      OVER (PARTITION BY cohort ORDER BY dur) AS ch
        |  FROM curve)
        |SELECT cohort, dur, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS d_events,
        |  CAST(round(CAST(ch AS DOUBLE), 6) AS DOUBLE) AS cum_hazard,
        |  CAST(round(exp(-CAST(ch AS DOUBLE)), 6) AS DOUBLE) AS na_survival
        |FROM ch WHERE d > 0 ORDER BY cohort, dur""".stripMargin,

    // Greenwood confidence bands (datediff dialect, shared KM grid)
    "events_survival_ci" ->
      """WITH fe AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    first_value(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS cohort
        |  FROM events),
        |pu AS (
        |  SELECT user_id, cohort, MIN(ts) AS birth,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS death
        |  FROM fe GROUP BY user_id, cohort),
        |wm AS (SELECT MAX(ts) AS wm FROM events),
        |durs AS (
        |  SELECT cohort,
        |    CAST(datediff(CAST(COALESCE(death, wm) AS DATE),
        |      CAST(birth AS DATE)) AS BIGINT) AS dur,
        |    death IS NOT NULL AS died
        |  FROM pu CROSS JOIN wm),
        |grid AS (
        |  SELECT cohort, dur,
        |    SUM(CASE WHEN died THEN 1L ELSE 0L END) AS d,
        |    SUM(CASE WHEN died THEN 0L ELSE 1L END) AS c
        |  FROM durs GROUP BY cohort, dur),
        |curve AS (
        |  SELECT cohort, dur, d,
        |    SUM(d + c) OVER (PARTITION BY cohort)
        |      - COALESCE(SUM(d + c) OVER (PARTITION BY cohort ORDER BY dur
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)
        |      AS n_risk
        |  FROM grid),
        |terms AS (
        |  SELECT cohort, dur, d, n_risk,
        |    CAST(CASE WHEN d > 0 AND d < n_risk
        |      THEN round(ln(CAST(n_risk - d AS DOUBLE)
        |        / CAST(n_risk AS DOUBLE)), 8) ELSE 0.0 END
        |      AS DECIMAL(20,8)) AS lp,
        |    CAST(CASE WHEN d > 0 AND d < n_risk
        |      THEN round(CAST(d AS DOUBLE)
        |        / (CAST(n_risk AS DOUBLE) * CAST(n_risk - d AS DOUBLE)), 8)
        |      ELSE 0.0 END AS DECIMAL(20,8)) AS gt
        |  FROM curve),
        |acc AS (
        |  SELECT cohort, dur, d, n_risk,
        |    MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY cohort ORDER BY dur) AS zeroed,
        |    SUM(lp) OVER (PARTITION BY cohort ORDER BY dur) AS ls,
        |    SUM(gt) OVER (PARTITION BY cohort ORDER BY dur) AS gw
        |  FROM terms),
        |sv AS (
        |  SELECT cohort, dur, d, n_risk,
        |    CASE WHEN zeroed = 1 THEN 0.0
        |      ELSE exp(CAST(ls AS DOUBLE)) END AS surv,
        |    CASE WHEN zeroed = 1 THEN 0.0
        |      ELSE exp(CAST(ls AS DOUBLE)) END
        |      * sqrt(CAST(gw AS DOUBLE)) AS se
        |  FROM acc)
        |SELECT cohort, dur, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS d_events,
        |  CAST(round(surv, 6) AS DOUBLE) AS survival,
        |  CAST(round(GREATEST(surv - 1.96 * se, 0.0), 6) AS DOUBLE) AS ci_lo,
        |  CAST(round(LEAST(surv + 1.96 * se, 1.0), 6) AS DOUBLE) AS ci_hi
        |FROM sv WHERE d > 0 ORDER BY cohort, dur""".stripMargin,

    // Gopher rule gate (split/size/filter/aggregate HOF dialect)
    "text_gopher_rules" ->
      """WITH base AS (
        |  SELECT doc_id, text, split(text, ' ') AS l,
        |    CAST(size(split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n_tok,
        |    aggregate(transform(l, t -> CAST(length(t) AS BIGINT)),
        |      0L, (a, x) -> a + x) AS sum_len,
        |    CAST(size(filter(l, t -> t rlike '[a-z]')) AS BIGINT) AS n_alpha,
        |    CAST(length(regexp_replace(text, '[^0-9]', '')) AS BIGINT)
        |      AS n_digit,
        |    CAST(size(filter(l, t -> t IN ('the', 'a', 'value', 'data')))
        |      AS BIGINT) AS stop_hits,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM base)
        |SELECT doc_id, n_tok,
        |  CAST(round(CAST(sum_len AS DOUBLE) / CAST(n_tok AS DOUBLE), 6)
        |    AS DOUBLE) AS mean_wlen,
        |  CAST(round(CAST(n_alpha AS DOUBLE) / CAST(n_tok AS DOUBLE), 6)
        |    AS DOUBLE) AS alpha_frac,
        |  stop_hits,
        |  (n_tok >= 20 AND n_tok <= 100000) AS f_words,
        |  (sum_len >= 2 * n_tok AND sum_len <= 12 * n_tok) AS f_wlen,
        |  (5 * n_alpha >= 3 * n_tok) AS f_alpha,
        |  (stop_hits >= 1) AS f_stop,
        |  (5 * n_digit <= n_chars) AS f_digit,
        |  ((n_tok >= 20 AND n_tok <= 100000)
        |    AND (sum_len >= 2 * n_tok AND sum_len <= 12 * n_tok)
        |    AND (5 * n_alpha >= 3 * n_tok) AND (stop_hits >= 1)
        |    AND (5 * n_digit <= n_chars)) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // DSIR importance resampling (md5_48 + explode dialect)
    "sample_dsir" ->
      """WITH toks AS (
        |  SELECT doc_id, source, explode(split(text, ' ')) AS tok
        |  FROM documents),
        |b AS (SELECT doc_id, source, pmod(md5_48(tok), 64) AS bkt FROM toks),
        |model AS (
        |  SELECT bkt,
        |    SUM(CASE WHEN source = 'src0' THEN 1L ELSE 0L END) AS ct,
        |    SUM(CASE WHEN source <> 'src0' THEN 1L ELSE 0L END) AS cr
        |  FROM b GROUP BY bkt),
        |tots AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM model),
        |ratios AS (
        |  SELECT bkt, CAST(round(
        |      ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + 64 AS DOUBLE))
        |    - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + 64 AS DOUBLE)), 8)
        |    AS DECIMAL(20,8)) AS llr
        |  FROM model CROSS JOIN tots),
        |scored AS (
        |  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |    SUM(llr) AS lw_dec
        |  FROM b JOIN ratios USING (bkt)
        |  WHERE b.source <> 'src0' GROUP BY b.doc_id),
        |sel AS (
        |  SELECT doc_id, n_tok, lw_dec FROM scored
        |  ORDER BY lw_dec DESC, doc_id LIMIT 50)
        |SELECT /*+ BROADCAST(bb) */
        |  CAST(COUNT(bb.doc_id) + 1 AS BIGINT) AS rnk,
        |  aa.doc_id, aa.n_tok,
        |  CAST(round(CAST(aa.lw_dec AS DOUBLE), 6) AS DOUBLE) AS log_weight
        |FROM sel aa LEFT JOIN sel bb
        |  ON bb.lw_dec > aa.lw_dec
        |    OR (bb.lw_dec = aa.lw_dec AND bb.doc_id < aa.doc_id)
        |GROUP BY aa.doc_id, aa.n_tok, aa.lw_dec
        |ORDER BY rnk""".stripMargin,

    // binary-quantized Hamming top-k (float_dot + HOF mask dialect; the
    // semantic all-candidate form — the DataFrame plan blocks by bit-block
    // pigeonhole, rows pinned identical)
    "sim_topk_bq" ->
      s"""WITH $vecCorpusSql,
         |masks AS (
         |  SELECT vec_id, embedding,
         |    aggregate(sequence(0, 47), 0L, (acc, i) ->
         |      acc + CASE WHEN element_at(embedding, i + 1)
         |          > CAST(0.0 AS FLOAT)
         |        THEN CAST(round(pow(2, i)) AS BIGINT) ELSE 0L END) AS mask
         |  FROM vcorpus),
         |pairs AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |    CAST(bit_count(p.mask ^ c.mask) AS BIGINT) AS hamming,
         |    round(${cosFd("p.embedding", "c.embedding")}, 6) AS cos
         |  FROM masks p JOIN masks c
         |    ON p.vec_id % 30000 >= 10000 AND c.vec_id % 30000 < 10000
         |  WHERE bit_count(p.mask ^ c.mask) <= 5),
         |ranked AS (
         |  SELECT probe_id, cand_id, hamming, cos,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY hamming, cand_id) AS rnk
         |  FROM pairs)
         |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, cand_id, hamming, cos
         |FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    // interval-union coverage (unix_timestamp / DIV dialect)
    "events_coverage" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, unix_timestamp(ts) AS st,
        |    unix_timestamp(ts) + 1800 AS en
        |  FROM events),
        |fl AS (
        |  SELECT user_id, event_id, st, en,
        |    MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |op AS (
        |  SELECT user_id, event_id, st, en,
        |    CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END AS opens
        |  FROM fl),
        |isl AS (
        |  SELECT user_id, st, en,
        |    SUM(opens) OVER (PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
        |  FROM op),
        |islands AS (
        |  SELECT user_id, iid, MIN(st) AS i0, MAX(en) AS i1,
        |    COUNT(*) AS nev
        |  FROM isl GROUP BY user_id, iid),
        |users AS (
        |  SELECT user_id, CAST(SUM(nev) AS BIGINT) AS n_events,
        |    CAST(COUNT(*) AS BIGINT) AS n_islands,
        |    CAST(SUM(i1 - i0) AS BIGINT) AS covered_s,
        |    CAST(MAX(i1) - MIN(i0) AS BIGINT) AS span_s
        |  FROM islands GROUP BY user_id)
        |SELECT user_id, n_events, n_islands, covered_s, span_s,
        |  (covered_s * 1000) DIV span_s AS coverage_pm
        |FROM users ORDER BY user_id""".stripMargin,

    // content checksum (md5_48 dialect)
    "meta_checksum" ->
      """WITH h AS (
        |  SELECT l_returnflag,
        |    md5_48(concat_ws('|', l_orderkey, l_linenumber,
        |      CAST(l_quantity AS BIGINT), l_returnflag, l_linestatus))
        |      AS rh
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(SUM(CAST(rh AS DECIMAL(28,0))) AS DECIMAL(38,0))
        |    % 2305843009213693951 AS BIGINT) AS sum_h,
        |  bit_xor(rh) AS xor_h
        |FROM h GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // power analysis (DIV dialect of the oracle's // arm split)
    "agg_power_mde" ->
      """WITH m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(value AS DECIMAL(28,8))) AS sx,
        |    SUM(CAST(value * value AS DECIMAL(28,8))) AS sxx
        |  FROM events GROUP BY event_type),
        |md AS (
        |  SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sxx AS DOUBLE) AS sxxd
        |  FROM m),
        |st AS (
        |  SELECT event_type, n, sxd / nd AS mean,
        |    (sxxd - sxd * sxd / nd) / (nd - 1.0) AS vr,
        |    CAST(n DIV 2 AS DOUBLE) AS n_arm
        |  FROM md),
        |mde AS (
        |  SELECT event_type, n, mean, vr,
        |    2.8016 * sqrt(2.0 * vr / n_arm) AS mde_abs,
        |    CAST(ceil(2.0 * vr * 2.8016 * 2.8016
        |      / ((0.05 * mean) * (0.05 * mean))) AS BIGINT) AS n_req
        |  FROM st)
        |SELECT event_type, n,
        |  CAST(round(mean, 6) AS DOUBLE) AS mean,
        |  CAST(round(sqrt(vr), 6) AS DOUBLE) AS sd,
        |  CAST(round(mde_abs, 6) AS DOUBLE) AS mde_abs,
        |  CAST(round(mde_abs / mean, 6) AS DOUBLE) AS mde_rel,
        |  n_req AS n_req_per_arm
        |FROM mde ORDER BY event_type""".stripMargin,

    // Lorenz concentration bands (DIV dialect)
    "agg_lorenz_bands" ->
      """WITH grid AS (
        |  SELECT o_orderpriority AS pri, o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(20,8))) * 100
        |      AS DECIMAL(18,0)) AS r
        |  FROM orders GROUP BY 1, 2),
        |banded AS (
        |  SELECT pri,
        |    CASE WHEN r < 100000 THEN 0 WHEN r < 500000 THEN 1
        |      WHEN r < 1000000 THEN 2 WHEN r < 5000000 THEN 3
        |      WHEN r < 10000000 THEN 4 WHEN r < 50000000 THEN 5
        |      ELSE 6 END AS band,
        |    r
        |  FROM grid),
        |bands AS (
        |  SELECT pri, band, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |    CAST(SUM(r) AS BIGINT) AS rev
        |  FROM banded GROUP BY pri, band),
        |tot AS (
        |  SELECT pri, SUM(rev) AS tot,
        |    CAST(SUM(n_cust) AS BIGINT) AS all_cust
        |  FROM bands GROUP BY pri),
        |cum AS (
        |  SELECT pri, band, n_cust, rev,
        |    SUM(rev) OVER (PARTITION BY pri ORDER BY band DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bands)
        |SELECT cum.pri AS o_orderpriority, band, n_cust, all_cust,
        |  (rev * 10000) DIV CAST(tot AS BIGINT) AS share_bp,
        |  (CAST(cum AS BIGINT) * 10000) DIV CAST(tot AS BIGINT)
        |    AS cum_share_bp
        |FROM cum JOIN tot ON cum.pri = tot.pri
        |ORDER BY o_orderpriority, band DESC""".stripMargin,

    // DAU/MAU stickiness (date_sub / DIV dialect)
    "events_stickiness" ->
      """WITH grid AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |days AS (SELECT DISTINCT day AS d FROM grid)
        |SELECT d AS day,
        |  CAST(COUNT(DISTINCT CASE WHEN grid.day = d THEN user_id END)
        |    AS BIGINT) AS dau,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau28,
        |  (COUNT(DISTINCT CASE WHEN grid.day = d THEN user_id END) * 1000)
        |    DIV COUNT(DISTINCT user_id) AS stickiness_pm
        |FROM grid JOIN days ON grid.day <= d AND grid.day >= date_sub(d, 27)
        |GROUP BY d ORDER BY day""".stripMargin,

    // bootstrap CI (md5_48 gate + LATERAL VIEW replicate fan-out dialect)
    "agg_bootstrap_ci" ->
      """WITH o AS (
        |  SELECT o_orderstatus AS st, o_orderkey, o_totalprice AS v
        |  FROM orders),
        |full_m AS (
        |  SELECT st,
        |    CAST(round(CAST(SUM(CAST(v AS DECIMAL(20,8))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS full_mean
        |  FROM o GROUP BY st),
        |reps AS (
        |  SELECT st, b, v
        |  FROM o LATERAL VIEW explode(sequence(0, 31)) t AS b
        |  WHERE md5_48(concat_ws('|', 'boot', b, o_orderkey)) % 2 = 0),
        |means AS (
        |  SELECT st, b,
        |    CAST(round(CAST(SUM(CAST(v AS DECIMAL(20,8))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS m
        |  FROM reps GROUP BY st, b),
        |ranked AS (
        |  SELECT st, b, m,
        |    ROW_NUMBER() OVER (PARTITION BY st ORDER BY m, b) AS rk
        |  FROM means),
        |ci AS (
        |  SELECT st, CAST(COUNT(*) AS BIGINT) AS n_reps,
        |    CAST(round(CAST(SUM(CAST(m AS DECIMAL(20,6))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS boot_mean,
        |    MAX(CASE WHEN rk = 4 THEN m END) AS ci_lo,
        |    MAX(CASE WHEN rk = 29 THEN m END) AS ci_hi
        |  FROM ranked GROUP BY st)
        |SELECT ci.st AS o_orderstatus, n_reps, full_mean, boot_mean,
        |  ci_lo, ci_hi
        |FROM ci JOIN full_m ON ci.st = full_m.st
        |ORDER BY o_orderstatus""".stripMargin,

    // growth accounting (date_add / datediff dialect)
    "events_lifecycle" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, wk,
        |    lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev,
        |    lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS nxt
        |  FROM uw),
        |cls AS (
        |  SELECT wk,
        |    CASE WHEN prev IS NULL THEN 'new'
        |      WHEN datediff(wk, prev) = 7 THEN 'retained'
        |      ELSE 'resurrected' END AS cls
        |  FROM flagged),
        |active AS (
        |  SELECT wk, COUNT(*) AS n_active,
        |    SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS n_new,
        |    SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS n_retained,
        |    SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
        |      AS n_resurrected
        |  FROM cls GROUP BY wk),
        |wm AS (SELECT MAX(wk) AS maxwk FROM uw),
        |churn AS (
        |  SELECT date_add(wk, 7) AS wk, COUNT(*) AS n_churned
        |  FROM flagged CROSS JOIN wm
        |  WHERE date_add(wk, 7) <= maxwk
        |    AND (nxt IS NULL OR datediff(nxt, wk) > 7)
        |  GROUP BY date_add(wk, 7))
        |SELECT active.wk, CAST(n_active AS BIGINT) AS n_active,
        |  CAST(n_new AS BIGINT) AS n_new,
        |  CAST(n_retained AS BIGINT) AS n_retained,
        |  CAST(n_resurrected AS BIGINT) AS n_resurrected,
        |  CAST(COALESCE(n_churned, 0) AS BIGINT) AS n_churned,
        |  CAST(round(CAST(n_new + n_resurrected AS DOUBLE)
        |    / CAST(greatest(COALESCE(n_churned, 0), 1) AS DOUBLE), 6)
        |    AS DOUBLE) AS quick_ratio
        |FROM active LEFT JOIN churn ON active.wk = churn.wk
        |ORDER BY active.wk""".stripMargin,

    // Flesch profile (HOF aggregate + 3-arg regexp_extract_all dialect)
    "text_readability" ->
      """WITH per AS (
        |  SELECT source,
        |    regexp_extract_all(lower(text), '[a-z]+', 0) AS ws,
        |    greatest(CAST(size(regexp_extract_all(lower(text), '[a-z]+', 0))
        |      AS BIGINT), 1L) AS nw,
        |    greatest(CAST(size(regexp_extract_all(text, '[.!?]+', 0))
        |      AS BIGINT), 1L) AS ns
        |  FROM documents),
        |syl AS (
        |  SELECT source, nw, ns,
        |    aggregate(ws, 0L, (a, w) ->
        |      a + greatest(size(regexp_extract_all(w, '[aeiouy]+', 0)), 1))
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
        |    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) / CAST(10000.0 AS DOUBLE)
        |    AS avg_score,
        |  CAST(round(CAST(SUM(nsyl) AS DOUBLE)
        |    / CAST(SUM(nw) AS DOUBLE), 6) AS DOUBLE) AS syll_per_word
        |FROM banded GROUP BY source, band
        |ORDER BY source, band""".stripMargin,

    // shard manifest (md5_48 + split/size dialect)
    "text_shard_manifest" ->
      """WITH a AS (
        |  SELECT md5_48(concat('shard:', doc_id)) % 8 AS shard,
        |    CAST(size(split(text, ' ')) AS BIGINT) AS toks, n_chars,
        |    md5_48(text) AS ch
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS n_total FROM documents)
        |SELECT shard, COUNT(*) AS n_docs, SUM(toks) AS n_tokens,
        |  SUM(n_chars) AS n_chars,
        |  CAST(CAST(SUM(CAST(ch AS DECIMAL(38,0))) AS DECIMAL(38,0))
        |    % 2305843009213693951 AS BIGINT) AS checksum,
        |  CAST(round(CAST(COUNT(*) AS DOUBLE)
        |    / CAST(tot.n_total AS DOUBLE), 6) AS DOUBLE) AS share
        |FROM a CROSS JOIN tot
        |GROUP BY shard, tot.n_total ORDER BY shard""".stripMargin,

    // per-language data card (split/size dialect)
    "corpus_card" ->
      """WITH per AS (
        |  SELECT lang, source, n_chars,
        |    CAST(size(split(text, ' ')) AS BIGINT) AS toks,
        |    md5_48(text) AS ch
        |  FROM documents),
        |base AS (
        |  SELECT lang, COUNT(*) AS n_docs, SUM(toks) AS n_tokens,
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

    // isotropy audit (posexplode/transform HOF dialect)
    "embed_isotropy" ->
      """WITH q AS (
        |  SELECT vec_id, label, dim, qd
        |  FROM (SELECT vec_id, label, posexplode(transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))) AS (dim, qd)
        |    FROM embeddings)),
        |perdim AS (
        |  SELECT label, dim, SUM(qd) AS sd,
        |    SUM(CAST(qd * qd AS DECIMAL(38,0))) AS sq,
        |    COUNT(DISTINCT vec_id) AS nv
        |  FROM q GROUP BY label, dim)
        |SELECT label, MAX(nv) AS n_vecs,
        |  CAST(round(CAST(SUM(sq) AS DOUBLE)
        |    / (CAST(MAX(nv) AS DOUBLE) * 1e12), 6) AS DOUBLE) AS mean_sq_norm,
        |  CAST(round(CAST(SUM(CAST(sd AS DECIMAL(19,0))
        |      * CAST(sd AS DECIMAL(19,0))) AS DOUBLE)
        |    / (CAST(MAX(nv) AS DOUBLE) * CAST(MAX(nv) AS DOUBLE) * 1e12), 6)
        |    AS DOUBLE) AS centroid_sq_norm,
        |  CAST(round(CAST(SUM(CAST(sd AS DECIMAL(19,0))
        |      * CAST(sd AS DECIMAL(19,0))) AS DOUBLE)
        |    / CAST(MAX(nv) * SUM(sq) AS DOUBLE), 6) AS DOUBLE) AS anisotropy
        |FROM perdim GROUP BY label ORDER BY label""".stripMargin,

    // ROUGE-2 over aligned pairs (split/transform HOF dialect)
    "text_rouge_overlap" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id,
        |    array_join(slice(split(text, ' '), 1,
        |      size(split(text, ' ')) - 2), ' ') AS text
        |  FROM documents WHERE doc_id % 7 = 0),
        |tok AS (SELECT doc_id, split(text, ' ') AS l FROM corpus),
        |g AS (SELECT doc_id, explode(transform(sequence(1, size(l) - 1),
        |    i -> concat(l[i-1], ' ', l[i]))) AS g FROM tok),
        |gc AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g),
        |v AS (SELECT doc_id - 200000 AS base_id, doc_id AS var_id, g, c AS cv
        |  FROM gc WHERE doc_id % 252000 >= 200000),
        |b AS (SELECT doc_id AS base_id, g, c AS cb FROM gc WHERE doc_id % 252000 < 100000),
        |ov AS (SELECT var_id, base_id, SUM(LEAST(cv, cb)) AS overlap
        |  FROM v JOIN b USING (base_id, g) GROUP BY var_id, base_id),
        |tot AS (SELECT doc_id, SUM(c) AS n FROM gc GROUP BY doc_id)
        |SELECT ov.var_id, ov.base_id,
        |  CAST(tb.n AS BIGINT) AS n_base, CAST(tv.n AS BIGINT) AS n_var,
        |  CAST(ov.overlap AS BIGINT) AS overlap,
        |  CAST(round(CAST(ov.overlap AS DOUBLE) / CAST(tb.n AS DOUBLE), 6)
        |    AS DOUBLE) AS rouge2_recall,
        |  CAST(round(CAST(ov.overlap AS DOUBLE) / CAST(tv.n AS DOUBLE), 6)
        |    AS DOUBLE) AS rouge2_precision,
        |  CAST(round(CAST(2 * ov.overlap AS DOUBLE)
        |    / CAST(tb.n + tv.n AS DOUBLE), 6) AS DOUBLE) AS rouge2_f1
        |FROM ov JOIN tot tb ON ov.base_id = tb.doc_id
        |JOIN tot tv ON ov.var_id = tv.doc_id
        |ORDER BY ov.var_id""".stripMargin,

    // power-iteration PCA (transform/slice HOF dialect; 4 unrolled steps)
    "embed_pca_power" -> pcaPowerSparkSql,

    // Kaplan-Meier (datediff argument order is the Spark dialect delta)
    "events_survival" ->
      """WITH fe AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    first_value(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS cohort
        |  FROM events),
        |pu AS (
        |  SELECT user_id, cohort, MIN(ts) AS birth,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS death
        |  FROM fe GROUP BY user_id, cohort),
        |wm AS (SELECT MAX(ts) AS wm FROM events),
        |durs AS (
        |  SELECT cohort,
        |    CAST(datediff(CAST(COALESCE(death, wm) AS DATE),
        |      CAST(birth AS DATE)) AS BIGINT) AS dur,
        |    death IS NOT NULL AS died
        |  FROM pu CROSS JOIN wm),
        |grid AS (
        |  SELECT cohort, dur,
        |    SUM(CASE WHEN died THEN 1 ELSE 0 END) AS d,
        |    SUM(CASE WHEN died THEN 0 ELSE 1 END) AS c
        |  FROM durs GROUP BY cohort, dur),
        |curve AS (
        |  SELECT cohort, dur, d,
        |    SUM(d + c) OVER (PARTITION BY cohort)
        |      - COALESCE(SUM(d + c) OVER (PARTITION BY cohort ORDER BY dur
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM grid),
        |lp AS (
        |  SELECT cohort, dur, d, n_risk,
        |    CAST(CASE WHEN d > 0 AND d < n_risk
        |      THEN round(ln(CAST(n_risk - d AS DOUBLE)
        |        / CAST(n_risk AS DOUBLE)), 8) ELSE 0.0 END
        |      AS DECIMAL(20,8)) AS lp
        |  FROM curve),
        |ls AS (
        |  SELECT cohort, dur, d, n_risk,
        |    MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY cohort ORDER BY dur) AS zeroed,
        |    SUM(lp) OVER (PARTITION BY cohort ORDER BY dur) AS ls
        |  FROM lp)
        |SELECT cohort, dur, n_risk, d AS d_events,
        |  CAST(CASE WHEN zeroed = 1 THEN 0.0
        |    ELSE round(exp(CAST(ls AS DOUBLE)), 6) END AS DOUBLE) AS survival
        |FROM ls WHERE d > 0 ORDER BY cohort, dur""".stripMargin,

    // covariance triangle (transform/slice/named_struct HOF dialect)
    "embed_covariance" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |    transform(slice(embedding, 1, 8),
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qd
        |  FROM embeddings),
        |pairs AS (
        |  SELECT label, p.i AS i, p.j AS j, p.xi AS xi, p.xj AS xj,
        |    p.xij AS xij
        |  FROM q LATERAL VIEW explode(flatten(transform(sequence(0, 7), i ->
        |    transform(sequence(i, 7), j ->
        |      named_struct('i', i, 'j', j, 'xi', qd[i], 'xj', qd[j],
        |        'xij', qd[i] * qd[j]))))) t AS p)
        |SELECT label, CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |  COUNT(*) AS n,
        |  CAST(round(CAST(COUNT(*) * SUM(CAST(xij AS DECIMAL(38,0)))
        |      - CAST(SUM(xi) AS DECIMAL(38,0)) * SUM(xj) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) * 1e12),
        |    6) AS DOUBLE) AS cov
        |FROM pairs GROUP BY label, i, j ORDER BY label, i, j""".stripMargin,

    // Kneser-Ney bigram scoring (posexplode + DIV dialect)
    "text_kneser_ney" ->
      """WITH raw AS (
        |  SELECT doc_id, pos, tok
        |  FROM (SELECT doc_id, posexplode(split(text, ' ')) AS (pos, tok)
        |        FROM documents)),
        |counts AS (SELECT tok, COUNT(*) AS c FROM raw GROUP BY tok),
        |vocab AS (SELECT tok FROM counts ORDER BY c DESC, tok LIMIT 24),
        |m AS (SELECT r.doc_id, r.pos,
        |    CASE WHEN v.tok IS NULL THEN '<unk>' ELSE r.tok END AS mtok
        |  FROM raw r LEFT JOIN vocab v ON r.tok = v.tok),
        |big AS (SELECT doc_id, w1, w2 FROM (
        |    SELECT doc_id, mtok AS w1,
        |      lead(mtok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |    FROM m)
        |  WHERE w2 IS NOT NULL),
        |bg AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
        |c1t AS (SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY w1),
        |n1pt AS (SELECT w1, COUNT(*) AS n1p FROM bg GROUP BY w1),
        |pcont AS (SELECT w2, COUNT(*) AS cw FROM bg GROUP BY w2),
        |bt AS (SELECT COUNT(*) AS b FROM bg),
        |scored AS (SELECT big.doc_id,
        |    round(ln((CAST(g.c12 AS DOUBLE) - 0.75) / CAST(c.c1 AS DOUBLE)
        |      + ((0.75 * CAST(f.n1p AS DOUBLE)) / CAST(c.c1 AS DOUBLE))
        |        * (CAST(p.cw AS DOUBLE) / CAST(bt.b AS DOUBLE))), 8) AS lp
        |  FROM big JOIN bg g ON big.w1 = g.w1 AND big.w2 = g.w2
        |  JOIN c1t c ON big.w1 = c.w1
        |  JOIN n1pt f ON big.w1 = f.w1
        |  JOIN pcont p ON big.w2 = p.w2
        |  CROSS JOIN bt),
        |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM(CAST(lp AS DECIMAL(20,8))) * 100000000 AS BIGINT) AS s8
        |  FROM scored GROUP BY doc_id),
        |mm AS (SELECT doc_id, n_bigrams,
        |    CASE WHEN s8 >= 0 THEN (s8 * 2 + n_bigrams * 100) DIV (n_bigrams * 200)
        |         ELSE -((-s8 * 2 + n_bigrams * 100) DIV (n_bigrams * 200)) END AS micro
        |  FROM agg)
        |SELECT doc_id, n_bigrams,
        |  CAST(round(exp(-(CAST(micro AS DOUBLE)) / 1000000.0), 6) AS DOUBLE)
        |    AS kn_ppl
        |FROM mm ORDER BY doc_id""".stripMargin,

    // haversine pack (md5_48 native fn is the Spark dialect delta)
    "fn_geo" ->
      """WITH n AS (SELECT n_nationkey,
        |    CAST(md5_48(concat(n_name, 'lat')) AS DOUBLE)
        |      / 281474976710656.0 * 180.0 - 90.0 AS lat,
        |    CAST(md5_48(concat(n_name, 'lon')) AS DOUBLE)
        |      / 281474976710656.0 * 360.0 - 180.0 AS lon
        |  FROM nation),
        |pairs AS (
        |  SELECT a.n_nationkey AS ka, b.n_nationkey AS kb,
        |    a.lat AS lat_a, a.lon AS lon_a, b.lat AS lat_b, b.lon AS lon_b
        |  FROM n a CROSS JOIN n b WHERE a.n_nationkey < b.n_nationkey),
        |scored AS (
        |  SELECT ka, kb,
        |    CAST(round(2.0 * 6371.0 * asin(sqrt(
        |      sin(radians(lat_b - lat_a) / 2.0)
        |        * sin(radians(lat_b - lat_a) / 2.0)
        |      + cos(radians(lat_a)) * cos(radians(lat_b))
        |        * sin(radians(lon_b - lon_a) / 2.0)
        |        * sin(radians(lon_b - lon_a) / 2.0))), 2) AS DOUBLE)
        |      AS dist_km
        |  FROM pairs)
        |SELECT ka, kb, dist_km, dist_km <= 5000.0 AS near
        |FROM scored ORDER BY ka, kb""".stripMargin,

    // ------------------------------------------------- parser / sampling
    "insert_parse" ->
      """WITH lines AS (
        |  SELECT c_custkey,
        |    concat_ws(' ',
        |      CASE WHEN c_custkey % 97 = 0 THEN 'update' ELSE 'insert' END,
        |      CAST(c_custkey - 5 AS STRING),
        |      CASE WHEN c_custkey % 50 = 0 THEN concat(c_name, repeat('x', 30))
        |           ELSE c_name END,
        |      CASE WHEN c_custkey % 89 = 0 THEN ''
        |           ELSE concat(c_name, '@example.com') END) AS stmt
        |  FROM customer),
        |parsed AS (
        |  SELECT stmt, split(trim(stmt), '\\s+') AS p FROM lines)
        |SELECT id, username, email, reject_reason FROM (
        |  SELECT
        |    try_cast(try_element_at(p, 2) AS BIGINT) AS id,
        |    try_element_at(p, 3) AS username,
        |    try_element_at(p, 4) AS email,
        |    CASE
        |      WHEN try_element_at(p, 1) <> 'insert'
        |        THEN concat('Unrecognized keyword at start of ''', stmt, '''')
        |      WHEN size(p) < 4 THEN 'Syntax error. Could not parse statement'
        |      WHEN try_cast(try_element_at(p, 2) AS BIGINT) IS NULL
        |        THEN 'Syntax error. Could not parse statement'
        |      WHEN try_cast(try_element_at(p, 2) AS BIGINT) < 0
        |        THEN 'ID must be positive.'
        |      WHEN length(try_element_at(p, 3)) > 32 THEN 'String is too long.'
        |      WHEN length(try_element_at(p, 4)) > 255 THEN 'String is too long.'
        |      ELSE CAST(NULL AS STRING)
        |    END AS reject_reason
        |  FROM parsed)
        |ORDER BY id, username""".stripMargin,

    "sample_hash" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE md5_48(concat_ws('|', l_orderkey, l_linenumber)) % 10 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // try-family (Spark try_cast/try_divide/try_element_at spellings)
    "fn_try" ->
      """SELECT c_custkey,
        |  try_cast(amount_str AS INT) AS parsed,
        |  CAST(try_divide(CAST(c_acctbal AS DECIMAL(12,2)),
        |    CAST(c_custkey % 3 AS DECIMAL(12,2))) AS DOUBLE) AS ratio,
        |  try_element_at(split(c_name, '#'), CAST(c_custkey % 3 + 1 AS INT))
        |    AS name_part,
        |  try_cast(amount_str AS INT) IS NULL AS quarantined
        |FROM (
        |  SELECT c_custkey, c_acctbal, c_name,
        |    CASE WHEN c_custkey % 5 = 0 THEN '  42 '
        |         WHEN c_custkey % 5 = 1 THEN ''
        |         WHEN c_custkey % 5 = 2 THEN 'N/A'
        |         WHEN c_custkey % 5 = 3 THEN '9999999999'
        |         ELSE CAST(c_custkey AS STRING) END AS amount_str
        |  FROM customer WHERE c_custkey % 11 = 0)
        |ORDER BY c_custkey""".stripMargin,

    // null-safe join (<=> spelling of IS NOT DISTINCT FROM)
    "join_null_safe" ->
      """WITH fact AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_orderkey % 11 = 0 THEN CAST(NULL AS BIGINT)
        |         ELSE o_orderkey % 5 END AS tag
        |  FROM orders),
        |dim AS (
        |  SELECT d_tag,
        |    coalesce(concat('region_', CAST(d_tag AS STRING)),
        |      'unattributed') AS tag_name
        |  FROM (SELECT DISTINCT tag AS d_tag FROM fact))
        |SELECT d.tag_name, COUNT(*) AS n,
        |  SUM(CASE WHEN f.tag = d.d_tag THEN 1L ELSE 0L END) AS n_plain_eq,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(20,8))), 2) AS DOUBLE)
        |    AS revenue
        |FROM fact f JOIN dim d ON f.tag <=> d.d_tag
        |GROUP BY d.tag_name ORDER BY d.tag_name""".stripMargin,

    // seasonality grid (Spark dayofweek is 1-based — the -1 bridges)
    "agg_seasonality" ->
      """WITH grid AS (
        |  SELECT event_type,
        |    CAST(dayofweek(CAST(ts AS DATE)) - 1 AS BIGINT) AS dow,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, SUM(n) AS nt FROM grid GROUP BY event_type)
        |SELECT g.event_type, g.dow, g.n,
        |  CAST(round(CAST(g.n AS DOUBLE) / CAST(t.nt AS DOUBLE), 6)
        |    AS DOUBLE) AS share,
        |  CAST(round(CAST(g.n AS DOUBLE) / CAST(t.nt AS DOUBLE) * 7.0, 4)
        |    AS DOUBLE) AS seasonal_index
        |FROM grid g JOIN tot t ON g.event_type = t.event_type
        |ORDER BY g.event_type, g.dow""".stripMargin,

    // RFM segmentation (datediff + DIV dialect)
    "events_rfm" ->
      """WITH p AS (
        |  SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day,
        |    COUNT(*) AS f,
        |    CAST(ROUND(SUM(CAST(value AS DECIMAL(20,8))), 2) AS DOUBLE) AS m
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |mx AS (SELECT MAX(CAST(ts AS DATE)) AS dmax FROM events),
        |scored AS (
        |  SELECT user_id, m,
        |    5L - least(4L, datediff(dmax, last_day) DIV 3) AS r_score,
        |    least(5L, 1L + f DIV 5) AS f_score,
        |    least(5L, 1L + CAST(floor(m / 300.0) AS BIGINT)) AS m_score
        |  FROM p CROSS JOIN mx)
        |SELECT r_score, f_score, m_score, COUNT(*) AS n_users,
        |  CAST(ROUND(SUM(CAST(m AS DECIMAL(20,8))), 2) AS DOUBLE)
        |    AS segment_value
        |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // Benford audit (STRING cast dialect; same ln/ln expectation shape)
    "agg_benford" ->
      """WITH d AS (
        |  SELECT substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |    AS STRING), 1, 1) AS digit
        |  FROM orders),
        |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
        |nt AS (SELECT COUNT(*) AS n_total FROM d)
        |SELECT digit, n,
        |  CAST(round(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
        |    AS DOUBLE) AS obs_share,
        |  CAST(round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)
        |    AS DOUBLE) AS exp_share,
        |  CAST(round((CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
        |      - ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))
        |    * (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
        |      - ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))
        |    / (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))
        |    * CAST(n_total AS DOUBLE), 4) AS DOUBLE) AS chi2_term
        |FROM c CROSS JOIN nt ORDER BY digit""".stripMargin,

    // sequence anomaly (DIV dialect of the integer-micro mean)
    "events_seq_anomaly" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events),
        |sq AS (SELECT user_id, prev, event_type FROM seq
        |       WHERE prev IS NOT NULL),
        |c AS (SELECT prev, event_type AS nxt, COUNT(*) AS n
        |  FROM sq GROUP BY prev, event_type),
        |p1 AS (SELECT prev, nxt,
        |    CAST(round(CAST(n AS DOUBLE)
        |      / CAST(SUM(n) OVER (PARTITION BY prev) AS DOUBLE), 6)
        |      AS DECIMAL(10,6)) AS p
        |  FROM c),
        |scored AS (SELECT sq.user_id,
        |    round(ln(greatest(CAST(p1.p AS DOUBLE), 0.000001)), 8) AS lp
        |  FROM sq JOIN p1 ON sq.prev = p1.prev AND sq.event_type = p1.nxt),
        |agg AS (SELECT user_id, COUNT(*) AS n_trans,
        |    CAST(SUM(CAST(lp AS DECIMAL(20,8))) * 100000000 AS BIGINT) AS s8
        |  FROM scored GROUP BY user_id),
        |mm AS (SELECT user_id, n_trans,
        |    CASE WHEN s8 >= 0 THEN (s8 * 2 + n_trans * 100) DIV (n_trans * 200)
        |         ELSE -((-s8 * 2 + n_trans * 100) DIV (n_trans * 200)) END
        |      AS micro
        |  FROM agg)
        |SELECT user_id, n_trans,
        |  CAST(micro AS DOUBLE) / 1000000.0 AS mean_logp,
        |  CAST(micro AS DOUBLE) / 1000000.0 < -1.614 AS anomalous
        |FROM mm ORDER BY user_id""".stripMargin,

    // masking pack (native md5_48 pseudonym; length/repeat dialect)
    "fn_mask" ->
      """SELECT
        |  md5_48(CAST(c_custkey AS STRING)) AS pseudo_key,
        |  substring(c_name, 1, 2) || repeat('*', length(c_name) - 2)
        |    AS masked_name,
        |  CAST(floor(c_acctbal / 100.0) * 100 AS BIGINT) AS bal_band,
        |  c_nationkey
        |FROM customer WHERE c_custkey % 7 = 0
        |ORDER BY pseudo_key""".stripMargin,

    // MaxSim late interaction via the native float_dot
    "sim_maxsim" ->
      s"""WITH probes AS (SELECT vec_id AS qid, embedding AS qv
         |  FROM embeddings ORDER BY vec_id LIMIT 4),
         |best AS (SELECT e.label, p.qid,
         |    MAX(round(${cosFd("p.qv", "e.embedding")}, 6)) AS best
         |  FROM embeddings e CROSS JOIN probes p GROUP BY e.label, p.qid)
         |SELECT label, COUNT(*) AS n_q,
         |  CAST(SUM(CAST(best AS DECIMAL(10,6))) AS DOUBLE) AS maxsim
         |FROM best GROUP BY label ORDER BY label""".stripMargin,

    // grid-blocked spatial join (native md5_48 replaces the hex-literal
    // cast DuckDB parses; containment logic identical)
    "join_spatial" ->
      """WITH pts AS (SELECT o_orderkey, o_totalprice,
        |    CAST(md5_48(o_orderkey || 'x') AS DOUBLE) / 281474976710656.0
        |      AS x,
        |    CAST(md5_48(o_orderkey || 'y') AS DOUBLE) / 281474976710656.0
        |      AS y
        |  FROM orders),
        |zones AS (SELECT n_nationkey,
        |    CAST(md5_48(n_name) AS DOUBLE) / 281474976710656.0 AS cx,
        |    CAST(md5_48(n_name || 'y') AS DOUBLE) / 281474976710656.0 AS cy
        |  FROM nation)
        |SELECT n_nationkey, COUNT(*) AS n_pts,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(20,8))), 2) AS DOUBLE)
        |    AS revenue
        |FROM pts JOIN zones
        |  ON x >= cx - 0.08 AND x <= cx + 0.08
        |  AND y >= cy - 0.08 AND y <= cy + 0.08
        |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin,

    // PQ encode (posexplode dialect; same micro-unit algebra)
    "embed_pq" ->
      """WITH q AS (
        |  SELECT vec_id, dim,
        |    CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS qd,
        |    (dim DIV 16) * 16 AS sub
        |  FROM (SELECT vec_id, posexplode(embedding) AS (dim, x)
        |        FROM embeddings)),
        |seeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4),
        |cents AS (SELECT q.vec_id AS cid, dim, qd AS cv
        |          FROM q JOIN seeds USING (vec_id)),
        |d2 AS (SELECT q.vec_id, q.sub, c.cid,
        |    SUM((q.qd - c.cv) * (q.qd - c.cv)) AS d2
        |  FROM q JOIN cents c ON q.dim = c.dim
        |  GROUP BY q.vec_id, q.sub, c.cid),
        |asg AS (SELECT vec_id, sub, cid, d2 FROM (
        |    SELECT vec_id, sub, cid, d2, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id, sub ORDER BY d2, cid) AS rnk FROM d2)
        |  WHERE rnk = 1)
        |SELECT vec_id,
        |  MAX(CASE WHEN sub = 0 THEN cid END) AS c0,
        |  MAX(CASE WHEN sub = 16 THEN cid END) AS c1,
        |  MAX(CASE WHEN sub = 32 THEN cid END) AS c2,
        |  MAX(CASE WHEN sub = 48 THEN cid END) AS c3,
        |  CAST(round(sqrt(CAST(SUM(d2) AS DOUBLE)) / 8000000.0, 6) AS DOUBLE)
        |    AS rmse
        |FROM asg GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // PQ-ADC search (posexplode dialect; same micro-unit algebra)
    "sim_topk_pq" ->
      """WITH q AS (
        |  SELECT vec_id, dim,
        |    CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS qd,
        |    (dim DIV 16) * 16 AS sub
        |  FROM (SELECT vec_id, posexplode(embedding) AS (dim, x)
        |        FROM embeddings)),
        |seeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4),
        |cents AS (SELECT q.vec_id AS cid, dim, qd AS cv
        |          FROM q JOIN seeds USING (vec_id)),
        |d2c AS (SELECT q.vec_id, q.sub, c.cid,
        |    SUM((q.qd - c.cv) * (q.qd - c.cv)) AS cd2
        |  FROM q JOIN cents c ON q.dim = c.dim
        |  GROUP BY q.vec_id, q.sub, c.cid),
        |codes AS (SELECT vec_id, sub, cid FROM (
        |    SELECT vec_id, sub, cid, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id, sub ORDER BY cd2, cid) AS rnk FROM d2c)
        |  WHERE rnk = 1),
        |probes AS (
        |  SELECT vec_id AS probe_id, dim, qd AS pd FROM q WHERE vec_id < 10),
        |adc AS (SELECT p.probe_id, c.cid, (p.dim DIV 16) * 16 AS sub,
        |    SUM((p.pd - c.cv) * (p.pd - c.cv)) AS pd2
        |  FROM probes p JOIN cents c ON p.dim = c.dim
        |  GROUP BY p.probe_id, c.cid, (p.dim DIV 16) * 16),
        |approx AS (
        |  SELECT probe_id, vec_id, SUM(pd2) AS adc_d2
        |  FROM codes JOIN adc USING (sub, cid)
        |  WHERE vec_id <> probe_id GROUP BY probe_id, vec_id),
        |cand AS (SELECT probe_id, vec_id, adc_d2 FROM (
        |    SELECT probe_id, vec_id, adc_d2, ROW_NUMBER() OVER (
        |      PARTITION BY probe_id ORDER BY adc_d2, vec_id) AS crk
        |    FROM approx) WHERE crk <= 12),
        |ex AS (
        |  SELECT cand.probe_id, cand.vec_id, cand.adc_d2,
        |    SUM((q.qd - p.pd) * (q.qd - p.pd)) AS d2
        |  FROM cand JOIN q ON cand.vec_id = q.vec_id
        |  JOIN probes p ON p.probe_id = cand.probe_id AND p.dim = q.dim
        |  GROUP BY cand.probe_id, cand.vec_id, cand.adc_d2)
        |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, vec_id,
        |  CAST(adc_d2 AS BIGINT) AS adc_d2, CAST(d2 AS BIGINT) AS d2
        |FROM (SELECT probe_id, vec_id, adc_d2, d2, ROW_NUMBER() OVER (
        |    PARTITION BY probe_id ORDER BY d2, vec_id) AS rnk FROM ex)
        |WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,

    // IVF×PQ composite: posexplode micro-corpus dialect (the DuckDB
    // oracle unnests a generate_series lateral); algebra identical
    "sim_ivf_pq" ->
      """WITH q AS (
        |  SELECT vec_id, dim,
        |    CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS qd,
        |    (dim DIV 16) * 16 AS sub
        |  FROM (SELECT vec_id, posexplode(embedding) AS (dim, x)
        |        FROM embeddings)),
        |coarse AS (SELECT vec_id AS cell, dim, qd AS gd FROM q
        |           WHERE vec_id % 50 = 0 AND vec_id < 2000),
        |celld2 AS (SELECT q.vec_id, c.cell,
        |    SUM((q.qd - c.gd) * (q.qd - c.gd)) AS gd2
        |  FROM q JOIN coarse c ON q.dim = c.dim
        |  GROUP BY q.vec_id, c.cell),
        |assign AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY gd2, cell) AS arnk FROM celld2)
        |  WHERE arnk = 1),
        |pcells AS (SELECT vec_id AS probe_id, cell FROM (
        |    SELECT vec_id, cell, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id ORDER BY gd2, cell) AS prnk
        |    FROM celld2 WHERE vec_id < 10)
        |  WHERE prnk <= 3),
        |seeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4),
        |cents AS (SELECT q.vec_id AS cid, dim, qd AS cv
        |          FROM q JOIN seeds USING (vec_id)),
        |d2c AS (SELECT q.vec_id, q.sub, c.cid,
        |    SUM((q.qd - c.cv) * (q.qd - c.cv)) AS cd2
        |  FROM q JOIN cents c ON q.dim = c.dim
        |  GROUP BY q.vec_id, q.sub, c.cid),
        |codes AS (SELECT vec_id, sub, cid FROM (
        |    SELECT vec_id, sub, cid, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id, sub ORDER BY cd2, cid) AS rnk FROM d2c)
        |  WHERE rnk = 1),
        |probes AS (
        |  SELECT vec_id AS probe_id, dim, qd AS pd, sub FROM q
        |  WHERE vec_id < 10),
        |adc AS (SELECT p.probe_id, p.sub, c.cid,
        |    SUM((p.pd - c.cv) * (p.pd - c.cv)) AS pd2
        |  FROM probes p JOIN cents c ON p.dim = c.dim
        |  GROUP BY p.probe_id, p.sub, c.cid),
        |pc AS (SELECT a.vec_id, a.cell, p.probe_id
        |  FROM assign a JOIN pcells p ON a.cell = p.cell
        |  WHERE a.vec_id <> p.probe_id),
        |approx AS (
        |  SELECT pc.probe_id, pc.vec_id, pc.cell, SUM(adc.pd2) AS adc_d2
        |  FROM pc
        |  JOIN codes ON codes.vec_id = pc.vec_id
        |  JOIN adc ON adc.probe_id = pc.probe_id
        |    AND adc.sub = codes.sub AND adc.cid = codes.cid
        |  GROUP BY pc.probe_id, pc.vec_id, pc.cell),
        |cand AS (SELECT probe_id, vec_id, cell, adc_d2 FROM (
        |    SELECT probe_id, vec_id, cell, adc_d2, ROW_NUMBER() OVER (
        |      PARTITION BY probe_id ORDER BY adc_d2, vec_id) AS crk
        |    FROM approx) WHERE crk <= 12),
        |ex AS (
        |  SELECT cand.probe_id, cand.vec_id, cand.cell, cand.adc_d2,
        |    SUM((q.qd - p.pd) * (q.qd - p.pd)) AS d2
        |  FROM cand JOIN q ON cand.vec_id = q.vec_id
        |  JOIN probes p ON p.probe_id = cand.probe_id AND p.dim = q.dim
        |  GROUP BY cand.probe_id, cand.vec_id, cand.cell, cand.adc_d2),
        |res AS (SELECT probe_id, vec_id, cell, adc_d2, d2, rnk FROM (
        |    SELECT probe_id, vec_id, cell, adc_d2, d2, ROW_NUMBER() OVER (
        |      PARTITION BY probe_id ORDER BY d2, vec_id) AS rnk FROM ex)
        |  WHERE rnk <= 3),
        |gtd AS (
        |  SELECT p.probe_id, q.vec_id,
        |    SUM((q.qd - p.pd) * (q.qd - p.pd)) AS td2
        |  FROM q JOIN probes p ON p.dim = q.dim
        |  WHERE q.vec_id <> p.probe_id
        |  GROUP BY p.probe_id, q.vec_id),
        |gt AS (SELECT probe_id, vec_id, grnk FROM (
        |    SELECT probe_id, vec_id, ROW_NUMBER() OVER (
        |      PARTITION BY probe_id ORDER BY td2, vec_id) AS grnk FROM gtd)
        |  WHERE grnk <= 3)
        |SELECT res.probe_id, CAST(res.rnk AS BIGINT) AS rnk, res.vec_id,
        |  res.cell, CAST(res.adc_d2 AS BIGINT) AS adc_d2,
        |  CAST(res.d2 AS BIGINT) AS d2,
        |  CAST(COALESCE(gt.grnk, 0) AS BIGINT) AS gt_rnk,
        |  (gt.grnk IS NOT NULL) AS hit
        |FROM res LEFT JOIN gt
        |  ON gt.probe_id = res.probe_id AND gt.vec_id = res.vec_id
        |ORDER BY res.probe_id, res.rnk""".stripMargin,

    // robust embedding-outlier gate (posexplode micro-corpus dialect)
    "embed_outlier" ->
      """WITH q AS (
        |  SELECT vec_id, dim,
        |    CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS q
        |  FROM (SELECT vec_id, posexplode(embedding) AS (dim, x)
        |        FROM embeddings)),
        |cent AS (
        |  SELECT dim,
        |    CAST(floor(CAST(SUM(q) * 2 + COUNT(*) AS DOUBLE)
        |      / CAST(COUNT(*) * 2 AS DOUBLE)) AS BIGINT) AS c
        |  FROM q GROUP BY dim),
        |d2 AS (
        |  SELECT q.vec_id, SUM((q.q - cent.c) * (q.q - cent.c)) AS d2
        |  FROM q JOIN cent ON q.dim = cent.dim
        |  GROUP BY q.vec_id),
        |med AS (SELECT median(CAST(d2 AS DOUBLE)) AS med FROM d2),
        |mad AS (
        |  SELECT median(abs(CAST(d2.d2 AS DOUBLE) - med.med)) AS mad
        |  FROM d2 CROSS JOIN med)
        |SELECT d2.vec_id, CAST(d2.d2 AS BIGINT) AS d2,
        |  CAST(ROUND(med.med, 6) AS DOUBLE) AS med_d2,
        |  CAST(ROUND(mad.mad, 6) AS DOUBLE) AS mad_d2,
        |  CAST(CASE WHEN mad.mad = 0 THEN 0.0
        |       ELSE ROUND(0.6745 * (CAST(d2.d2 AS DOUBLE) - med.med)
        |         / mad.mad, 6) END AS DOUBLE) AS mz,
        |  (CASE WHEN mad.mad = 0 THEN 0.0
        |       ELSE ROUND(0.6745 * (CAST(d2.d2 AS DOUBLE) - med.med)
        |         / mad.mad, 6) END > 3.5) AS is_outlier
        |FROM d2 CROSS JOIN med CROSS JOIN mad
        |ORDER BY d2.vec_id""".stripMargin,

    // A-Res weighted sample (md5_48 dialect)
    "sample_ares" ->
      """SELECT doc_id, n_chars,
        |  CAST(ROUND(-ln((CAST(md5_48(concat('ares:',
        |        CAST(doc_id AS STRING))) AS DOUBLE) + 1)
        |      / 281474976710656.0
        |    ) / CAST(n_chars AS DOUBLE), 8) AS DOUBLE) AS ekey
        |FROM documents
        |ORDER BY ekey, doc_id LIMIT 20""".stripMargin,

    // CEP regex over journeys (sorted-struct concat + regexp_extract_all
    // + stack dialect)
    "events_pattern" ->
      """WITH j AS (
        |  SELECT user_id, array_join(transform(
        |      array_sort(collect_list(struct(ts, event_id, event_type))),
        |      x -> substring(x.event_type, 1, 1)), '') AS journey
        |  FROM events GROUP BY user_id),
        |m AS (SELECT
        |    size(regexp_extract_all(journey, 's.*p', 0)) AS m1,
        |    size(regexp_extract_all(journey, 'ee+', 0)) AS m2,
        |    size(regexp_extract_all(journey, 'v[ce]*p', 0)) AS m3
        |  FROM j),
        |a AS (SELECT COUNT(*) AS total,
        |    SUM(CASE WHEN m1 > 0 THEN 1L ELSE 0L END) AS u1,
        |    SUM(CAST(m1 AS BIGINT)) AS c1,
        |    SUM(CASE WHEN m2 > 0 THEN 1L ELSE 0L END) AS u2,
        |    SUM(CAST(m2 AS BIGINT)) AS c2,
        |    SUM(CASE WHEN m3 > 0 THEN 1L ELSE 0L END) AS u3,
        |    SUM(CAST(m3 AS BIGINT)) AS c3
        |  FROM m)
        |SELECT pattern, n_users, n_matches,
        |  CAST(round(CAST(n_users AS DOUBLE) / CAST(total AS DOUBLE), 6)
        |    AS DOUBLE) AS share
        |FROM (
        |  SELECT stack(3,
        |      'error_burst', u2, c2,
        |      'signup_to_purchase', u1, c1,
        |      'view_to_purchase_direct', u3, c3)
        |    AS (pattern, n_users, n_matches), total
        |  FROM a)
        |ORDER BY pattern""".stripMargin,

    // PMI collocations (posexplode + lead dialect)
    "text_collocations" ->
      """WITH big AS (
        |  SELECT w1, w2 FROM (
        |    SELECT tok AS w1,
        |      lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |    FROM (SELECT doc_id, posexplode(split(text, ' ')) AS (pos, tok)
        |          FROM documents))
        |  WHERE w2 IS NOT NULL),
        |bg AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
        |lft AS (SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY w1),
        |rgt AS (SELECT w2, SUM(c12) AS c2 FROM bg GROUP BY w2),
        |nt AS (SELECT SUM(c12) AS nn FROM bg)
        |SELECT bg.w1, bg.w2, bg.c12,
        |  CAST(round(ln((CAST(bg.c12 AS DOUBLE) * CAST(nt.nn AS DOUBLE))
        |    / (CAST(lft.c1 AS DOUBLE) * CAST(rgt.c2 AS DOUBLE))), 6)
        |    AS DOUBLE) AS pmi
        |FROM bg JOIN lft ON bg.w1 = lft.w1 JOIN rgt ON bg.w2 = rgt.w2
        |CROSS JOIN nt
        |WHERE bg.c12 >= 5
        |ORDER BY pmi DESC, bg.w1, bg.w2 LIMIT 15""".stripMargin,

    // interpolated-LM perplexity gate (posexplode + DIV dialect of the
    // DuckDB oracle; same IEEE expression shapes)
    "text_perplexity" ->
      s"""WITH $pplCoreSparkSql
         |SELECT doc_id, n_tok, ppl, ppl <= 21.1 AS keep
         |FROM ppl ORDER BY doc_id""".stripMargin,

    // Cavnar-Trenkle language ID + confusion grid (round 11b): Spark
    // dialect — transform/sequence trigrams, native md5_48 split fate
    "text_lang_ngram" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, lower(text) AS t,
        |    md5_48('langid:' || CAST(doc_id AS STRING)) % 100 AS bkt
        |  FROM documents WHERE length(lower(text)) >= 3),
        |tg AS (SELECT doc_id, lang,
        |    explode(transform(sequence(1, length(t) - 2),
        |      i -> substring(t, i, 3))) AS g
        |  FROM docs WHERE bkt >= 20),
        |lp AS (SELECT lang, g, rl FROM (
        |    SELECT lang, g, ROW_NUMBER() OVER (PARTITION BY lang
        |        ORDER BY COUNT(*) DESC, g ASC) AS rl
        |    FROM tg GROUP BY lang, g)
        |  WHERE rl <= 32),
        |vg AS (SELECT doc_id, lang,
        |    explode(transform(sequence(1, length(t) - 2),
        |      i -> substring(t, i, 3))) AS g
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
        |    COALESCE(conf.n, 0L) AS n_docs
        |  FROM grid g LEFT JOIN conf ON conf.lang_true = g.lang_true
        |    AND conf.lang_pred = g.lang_pred),
        |rt AS (SELECT lang_true, CAST(SUM(n_docs) AS BIGINT) AS row_total
        |       FROM filled GROUP BY lang_true)
        |SELECT f.lang_true, f.lang_pred, f.n_docs,
        |  CASE WHEN rt.row_total > 0 THEN f.n_docs * 1000000 DIV rt.row_total
        |       ELSE 0L END AS row_ppm
        |FROM filled f JOIN rt USING (lang_true)
        |ORDER BY f.lang_true, f.lang_pred""".stripMargin,

    // held-out perplexity (round 11b): train/val split gates over the
    // perplexity chain, unseen-context/bigram fallbacks spelled explicitly
    "text_ppl_holdout" ->
      """WITH docs AS (
        |  SELECT doc_id, text,
        |    md5_48('split:' || CAST(doc_id AS STRING)) % 100 AS bkt
        |  FROM documents),
        |traw AS (
        |  SELECT doc_id, pos, tok
        |  FROM (SELECT doc_id, posexplode(split(text, ' ')) AS (pos, tok)
        |        FROM docs WHERE bkt >= 2)),
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
        |vraw AS (
        |  SELECT doc_id, pos, tok
        |  FROM (SELECT doc_id, posexplode(split(text, ' ')) AS (pos, tok)
        |        FROM docs WHERE bkt = 0)),
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
        |    CASE WHEN s8 >= 0 THEN (s8 * 2 + n_tok * 100) DIV (n_tok * 200)
        |         ELSE -((-s8 * 2 + n_tok * 100) DIV (n_tok * 200)) END AS micro
        |  FROM agg)
        |SELECT doc_id, n_tok,
        |  CAST(round(exp(-(CAST(micro AS DOUBLE)) / 1000000.0), 6) AS DOUBLE)
        |    AS ppl_holdout
        |FROM mm ORDER BY doc_id""".stripMargin,

    // CCNet-style per-language perplexity tertiles over the SAME per-doc
    // ppl chain as text_perplexity (integer-micro bucket mean)
    "text_ppl_bucket" ->
      s"""WITH $pplCoreSparkSql,
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
         |  CAST((s6 * 2 + n_docs) DIV (n_docs * 2) AS DOUBLE) / 1000000.0
         |    AS mean_ppl
         |FROM g ORDER BY lang, bucket""".stripMargin,

    // 10-token segment dedup (transform/slice dialect; md5_48 native)
    "dedup_para" ->
      s"""WITH $corpusSql,
         |tok AS (SELECT doc_id, split(text, ' ') AS l FROM corpus),
         |segs AS (SELECT doc_id, explode(transform(
         |    sequence(1, size(l) DIV 10),
         |    i -> array_join(slice(l, (i-1)*10+1, 10), ' '))) AS seg
         |  FROM tok WHERE size(l) >= 10),
         |h AS (SELECT doc_id, md5_48(seg) AS sh FROM segs),
         |dft AS (SELECT sh, COUNT(DISTINCT doc_id) AS df FROM h GROUP BY sh)
         |SELECT h.doc_id, COUNT(*) AS n_seg,
         |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_seg,
         |  CAST(round(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS dup_frac
         |FROM h JOIN dft ON h.sh = dft.sh
         |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin,

    // label centroids + outliers (posexplode dialect; micro-unit algebra)
    "embed_centroid" ->
      """WITH q AS (
        |  SELECT vec_id, label, dim,
        |    CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS qd
        |  FROM (SELECT vec_id, label, posexplode(embedding) AS (dim, x)
        |        FROM embeddings)),
        |sums AS (SELECT label, dim, SUM(qd) AS sd, COUNT(*) AS n
        |  FROM q GROUP BY label, dim),
        |member AS (SELECT q.vec_id, q.label,
        |    SUM(CAST(s.n * q.qd - s.sd AS DECIMAL(18,0))
        |      * CAST(s.n * q.qd - s.sd AS DECIMAL(18,0))) AS d2,
        |    MAX(s.n) AS n
        |  FROM q JOIN sums s ON q.label = s.label AND q.dim = s.dim
        |  GROUP BY q.vec_id, q.label),
        |norm AS (SELECT label,
        |    SUM(CAST(sd AS DECIMAL(18,0)) * CAST(sd AS DECIMAL(18,0))) AS ss,
        |    CAST(MAX(n) AS BIGINT) AS n_vecs
        |  FROM sums GROUP BY label),
        |outl AS (SELECT label, vec_id, d2 FROM (
        |    SELECT label, vec_id, d2, ROW_NUMBER() OVER (
        |      PARTITION BY label ORDER BY d2 DESC, vec_id) AS rnk FROM member)
        |  WHERE rnk = 1)
        |SELECT n.label, n.n_vecs,
        |  CAST(round(sqrt(CAST(n.ss AS DOUBLE))
        |    / CAST(n.n_vecs * 1000000 AS DOUBLE), 6) AS DOUBLE)
        |    AS centroid_norm,
        |  o.vec_id AS outlier_vec_id,
        |  CAST(round(sqrt(CAST(o.d2 AS DOUBLE))
        |    / CAST(n.n_vecs * 1000000 AS DOUBLE), 6) AS DOUBLE)
        |    AS outlier_dist
        |FROM norm n JOIN outl o ON n.label = o.label
        |ORDER BY n.label""".stripMargin,

    "agg_collect" ->
      """SELECT o_custkey,
        |  array_join(sort_array(collect_list(o_orderkey)), ',') AS order_keys,
        |  COUNT(*) AS n_orders
        |FROM orders WHERE o_custkey % 50 = 0
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "sample_stratified" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents
        |WHERE md5_48(concat_ws('|', doc_id)) % 100
        |  < CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 20
        |         ELSE 10 END
        |ORDER BY doc_id""".stripMargin,

    // exact decimal(38,0) cross-multiplication — no libm, no float compare
    "sample_weighted" ->
      """WITH tot AS (SELECT SUM(n_chars) AS tw FROM documents)
        |SELECT doc_id, n_chars FROM documents, tot
        |WHERE CAST(md5_48(concat_ws('|', doc_id)) AS DECIMAL(38,0))
        |    * CAST(tw AS DECIMAL(38,0))
        |  < CAST(100 AS DECIMAL(38,0)) * CAST(n_chars AS DECIMAL(38,0))
        |    * CAST(281474976710656 AS DECIMAL(38,0))
        |ORDER BY doc_id""".stripMargin,

    // the row_number spelling of the bounded-heap reservoir sample
    "sample_reservoir" ->
      """SELECT o_orderstatus, CAST(rn AS BIGINT) AS rnk, o_orderkey
        |FROM (
        |  SELECT o_orderstatus, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY md5_48(CAST(o_orderkey AS STRING)), o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 5 ORDER BY o_orderstatus, rnk""".stripMargin,

    // Spark spelling of the exact-moment OLS (datediff = the oracle's
    // date_diff('day', ...); every moment an int64, y exact in cents)
    "agg_linreg" ->
      """WITH pts AS (
        |  SELECT o_orderstatus,
        |    datediff(o_orderdate, DATE '1970-01-01') AS x,
        |    CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100
        |      AS LONG) AS y100
        |  FROM orders),
        |m AS (
        |  SELECT o_orderstatus, COUNT(*) AS n,
        |    CAST(COUNT(*) AS DOUBLE) AS nd,
        |    CAST(SUM(x) AS DOUBLE) AS sx,
        |    CAST(SUM(y100) AS DOUBLE) AS sy1,
        |    CAST(SUM(x * y100) AS DOUBLE) AS sxy1,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx
        |  FROM pts GROUP BY o_orderstatus),
        |sl AS (
        |  SELECT o_orderstatus, n, nd, sx, sy1,
        |    (nd * sxy1 - sx * sy1) / (nd * sxx - sx * sx) AS slope100
        |  FROM m)
        |SELECT o_orderstatus, n, slope100 / 1e2 AS slope,
        |  ((sy1 - slope100 * sx) / nd) / 1e2 AS intercept
        |FROM sl ORDER BY o_orderstatus""".stripMargin,

    // Spark regex backreferences are `$1` (DuckDB's oracle uses `\1`);
    // regexp_count / rlike are the Spark spellings
    "fn_regex" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '([a-z]+)$', 1) AS noun,
        |  regexp_extract(p_name, '^([a-z]+)', 1) AS adj,
        |  CAST(regexp_count(p_name, '[aeiou]') AS BIGINT) AS n_vowels,
        |  regexp_replace(p_name, '^([a-z]+) ([a-z]+)$', '$2 $1') AS swapped,
        |  p_name RLIKE '^(small|large)' AS is_sized
        |FROM part ORDER BY p_partkey""".stripMargin,

    // ------------------------------------------- advanced aggs / windows
    "agg_pivot" ->
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the partitioned-lag shape (lag within calendar year + edge-row
    // stitch), mirroring the DataFrame plan — no partition-less window in
    // the SQL path either
    "window_lag" ->
      s"""WITH daily AS (
         |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |         ${dsumSql("value")} AS v
         |  FROM events GROUP BY 1),
         |base AS (
         |  SELECT day, v, year(day) AS yr,
         |    LAG(v, 1) OVER (PARTITION BY year(day) ORDER BY day) AS prev_in_year,
         |    ROW_NUMBER() OVER (PARTITION BY year(day) ORDER BY day) AS rn
         |  FROM daily),
         |edges AS (
         |  SELECT yr AS eyr, day AS eday, v AS ev FROM (
         |    SELECT yr, day, v,
         |      ROW_NUMBER() OVER (PARTITION BY yr ORDER BY day DESC) AS rnd
         |    FROM base)
         |  WHERE rnd = 1),
         |carry AS (
         |  SELECT a.eyr AS carry_yr, max_by(b.ev, b.eday) AS carry_v
         |  FROM edges a JOIN edges b ON b.eyr < a.eyr GROUP BY a.eyr)
         |SELECT day, v, coalesce(prev_in_year, carry_v) AS prev_v,
         |  v - coalesce(prev_in_year, carry_v) AS delta
         |FROM base LEFT JOIN carry ON base.yr = carry.carry_yr AND base.rn = 1
         |ORDER BY day""".stripMargin,

    // ------------------------------------------------- approx aggregates
    // (no DuckDB oracle by declared contract; the SQL text still runs in
    // Spark and must equal the DataFrame path bit-for-bit — same sketch
    // algorithm, same seed, deterministic)
    "agg_approx_distinct" ->
      """SELECT event_type,
        |  approx_count_distinct(user_id, 0.02) AS approx_users,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Spark's datediff takes (end, start) where DuckDB's date_diff takes
    // ('day', start, end) — dialect twin of the oracle
    "agg_retention" ->
      """WITH activity AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |cohorts AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id)
        |SELECT cohort_day,
        |  CAST(datediff(day, cohort_day) AS BIGINT) AS day_offset,
        |  COUNT(DISTINCT a.user_id) AS n_users
        |FROM activity a JOIN cohorts c ON a.user_id = c.user_id
        |WHERE datediff(day, cohort_day) IN (0, 1, 3, 7)
        |GROUP BY cohort_day, CAST(datediff(day, cohort_day) AS BIGINT)
        |ORDER BY cohort_day, day_offset""".stripMargin,

    "agg_hll_sketch" ->
      """WITH per_group AS (
        |  SELECT l_returnflag, l_linestatus,
        |    hll_sketch_agg(l_partkey) AS sk,
        |    COUNT(DISTINCT l_partkey) AS exact_nd
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag,
        |  hll_sketch_estimate(hll_union_agg(sk)) AS approx_nd,
        |  SUM(exact_nd) AS sum_group_exact
        |FROM per_group GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // ------------------------------------------------------ function packs
    "fn_date" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  CAST(datediff(o_orderdate, DATE '1995-01-01') AS BIGINT) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_array" ->
      """SELECT vec_id,
        |  CAST(size(embedding) AS BIGINT) AS n_dims,
        |  element_at(embedding, 1) AS e0,
        |  round(sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE),
        |    (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS l2_norm,
        |  round(aggregate(embedding, CAST(0.0 AS DOUBLE),
        |    (acc, x) -> acc + CAST(x AS DOUBLE)) / size(embedding), 6) AS mean_val
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "fn_json" ->
      """SELECT event_id, event_type,
        |  CAST(get_json_object(props, '$.k') AS BIGINT) AS k_val,
        |  CAST(from_json(props, 'k INT').k AS BIGINT) AS k_struct
        |FROM events
        |WHERE CAST(get_json_object(props, '$.k') AS BIGINT) > 50
        |ORDER BY event_id""".stripMargin,

    // ------------------------------------------------- streaming (batch)
    "stream_sliding" ->
      s"""SELECT window.start AS ws, event_type, COUNT(*) AS n_events,
         |  ${dsumSql("value")} AS sum_value
         |FROM events
         |GROUP BY window(ts, '1 hour', '15 minutes'), event_type
         |ORDER BY ws, event_type""".stripMargin,

    // ------------------------------------------------------ dedup family
    "dedup_exact" ->
      s"""WITH $corpusSql
         |SELECT min(doc_id) AS kept_id, count(*) AS n_copies
         |FROM corpus GROUP BY md5(lower(trim(text)))
         |ORDER BY kept_id""".stripMargin,

    "dedup_near" -> dedupNearSql,
    // salting is plan-level skew mitigation; the statement-level semantics
    // (and rows) are identical to dedup_near
    "dedup_near_salted" -> dedupNearSql,
    "dedup_minhash" -> minhashSql,
    "dedup_incremental" -> minhashIncrementalSql,
    "dedup_simhash" -> simhashSql,

    // threshold sweep over the semantic (quadratic) pair form — same rows
    // as the prefix-filtered DataFrame plan, then the 5-point grid
    "dedup_threshold_sweep" ->
      s"""WITH $corpusSql,
         |$shingleSetsSql,
         |pairs AS (
         |  SELECT a, b, round(jacc, 6) AS jr FROM (
         |    SELECT sa.doc_id AS a, sb.doc_id AS b, $jaccSql AS jacc
         |    FROM ssets sa JOIN ssets sb
         |      ON sa.doc_id % 252000 >= 200000 AND sb.doc_id % 252000 < 200000)
         |  WHERE jacc >= 0.7),
         |g AS (SELECT CAST(t AS DOUBLE) AS t
         |      FROM VALUES (0.7), (0.75), (0.8), (0.85), (0.9) AS v(t)),
         |agg AS (
         |  SELECT g.t, COUNT(*) AS n_pairs,
         |    COUNT(DISTINCT pairs.a) AS n_vars,
         |    COUNT(DISTINCT pairs.b) AS n_bases
         |  FROM pairs CROSS JOIN g WHERE pairs.jr >= g.t GROUP BY g.t)
         |SELECT g.t AS threshold,
         |  COALESCE(agg.n_pairs, 0L) AS n_pairs,
         |  COALESCE(agg.n_vars, 0L) AS n_vars,
         |  COALESCE(agg.n_bases, 0L) AS n_bases
         |FROM g LEFT JOIN agg ON agg.t = g.t
         |ORDER BY threshold""".stripMargin,

    // dedup PR curve vs planted truth (round 11b): same candidate set as
    // the threshold sweep, integer-ppm precision/recall/F1
    "dedup_eval" ->
      s"""WITH $corpusSql,
         |$shingleSetsSql,
         |pairs AS (
         |  SELECT a, b, round(jacc, 6) AS jr FROM (
         |    SELECT sa.doc_id AS a, sb.doc_id AS b, $jaccSql AS jacc
         |    FROM ssets sa JOIN ssets sb
         |      ON sa.doc_id % 252000 >= 200000 AND sb.doc_id % 252000 < 200000)
         |  WHERE jacc >= 0.7),
         |g AS (SELECT CAST(t AS DOUBLE) AS t
         |      FROM VALUES (0.7), (0.75), (0.8), (0.85), (0.9) AS v(t)),
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
         |    COALESCE(agg.n_detected, 0L) AS n_detected,
         |    COALESCE(agg.n_true, 0L) AS n_true,
         |    COALESCE(agg.n_vars_matched, 0L) AS n_vars_matched
         |  FROM g LEFT JOIN agg ON agg.t = g.t CROSS JOIN expected),
         |ppm AS (
         |  SELECT threshold, n_expected, n_detected, n_true, n_vars_matched,
         |    CASE WHEN n_detected > 0
         |      THEN n_true * 1000000 DIV n_detected ELSE 0L END AS p_ppm,
         |    n_vars_matched * 1000000 DIV n_expected AS r_ppm
         |  FROM filled)
         |SELECT threshold, n_expected, n_detected, n_true, n_vars_matched,
         |  CAST(p_ppm AS DOUBLE) / 1000000.0 AS precision,
         |  CAST(r_ppm AS DOUBLE) / 1000000.0 AS recall,
         |  CAST(CASE WHEN p_ppm + r_ppm > 0
         |    THEN 2 * p_ppm * r_ppm DIV (p_ppm + r_ppm) ELSE 0L END AS DOUBLE)
         |    / 1000000.0 AS f1
         |FROM ppm ORDER BY threshold""".stripMargin,

    // PSI drift over fixed-width integer-cent bins (round 11b): add-one
    // smoothed ppm shares, ln-fed terms rounded 8 into decimal sums
    "agg_psi" ->
      """WITH v AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100
        |      AS BIGINT) AS v100
        |  FROM orders),
        |scal AS (
        |  SELECT date_add(MIN(day),
        |      CAST(datediff(MAX(day), MIN(day)) DIV 2 AS INT)) AS cut,
        |    MIN(v100) AS min100, MAX(v100) AS max100
        |  FROM v),
        |binned AS (
        |  SELECT (v100 - min100) * 10 DIV (max100 - min100 + 1) AS bin,
        |    CAST(SUM(CASE WHEN day < cut THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_base,
        |    CAST(SUM(CASE WHEN day >= cut THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_curr
        |  FROM v CROSS JOIN scal
        |  GROUP BY (v100 - min100) * 10 DIV (max100 - min100 + 1)),
        |tot AS (SELECT CAST(SUM(n_base) AS BIGINT) AS nb,
        |               CAST(SUM(n_curr) AS BIGINT) AS nc FROM binned),
        |g AS (SELECT CAST(b AS BIGINT) AS bin
        |      FROM (SELECT explode(sequence(0, 9)) AS b)),
        |grid AS (
        |  SELECT g.bin,
        |    COALESCE(binned.n_base, 0L) AS n_base,
        |    COALESCE(binned.n_curr, 0L) AS n_curr,
        |    tot.nb, tot.nc
        |  FROM g LEFT JOIN binned ON binned.bin = g.bin CROSS JOIN tot),
        |terms AS (
        |  SELECT bin, n_base, n_curr,
        |    (n_base + 1) * 1000000 DIV (nb + 10) AS base_ppm,
        |    (n_curr + 1) * 1000000 DIV (nc + 10) AS curr_ppm,
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

    // train-vs-eval benchmark decontamination (round 11): one-sided
    // 8-gram containment, integer ppm arithmetic — Spark dialect of the
    // Frontier oracle (list primitives differ; the math is identical)
    "dedup_decontaminate" ->
      s"""WITH $corpusSql,
         |train AS (SELECT doc_id AS train_id,
         |            split(lower(trim(text)), ' ') AS l FROM corpus),
         |bench AS (SELECT doc_id AS eval_id,
         |            split(lower(trim(text)), ' ') AS l
         |          FROM documents WHERE doc_id % 7 = 0),
         |tg AS (SELECT DISTINCT train_id, md5_48(g) AS hv FROM (
         |  SELECT train_id, explode(transform(sequence(1, size(l) - 7),
         |    i -> array_join(slice(l, i, 8), ' '))) AS g
         |  FROM train WHERE size(l) >= 8)),
         |bg AS (SELECT DISTINCT eval_id, md5_48(g) AS hv FROM (
         |  SELECT eval_id, explode(transform(sequence(1, size(l) - 7),
         |    i -> array_join(slice(l, i, 8), ' '))) AS g
         |  FROM bench WHERE size(l) >= 8)),
         |bs AS (SELECT eval_id, COUNT(*) AS n_eval_grams FROM bg GROUP BY eval_id),
         |hits AS (SELECT t.train_id, b.eval_id, COUNT(*) AS n_shared
         |  FROM tg t JOIN bg b ON t.hv = b.hv
         |  GROUP BY t.train_id, b.eval_id)
         |SELECT train_id, eval_id, n_shared, n_eval_grams,
         |  n_shared * 1000000L DIV n_eval_grams AS ppm,
         |  CAST(n_shared * 1000000L DIV n_eval_grams AS DOUBLE) / 1000000.0D
         |    AS containment
         |FROM hits JOIN bs USING (eval_id)
         |WHERE n_shared * 1000000L DIV n_eval_grams >= 500000
         |ORDER BY train_id, eval_id""".stripMargin,

    // mergeable KLL quantile rollup (round 11): two-level sketch build +
    // merge via the native kll_* functions — deterministic compaction is
    // what lets this text pin row-for-row against the DataFrame path
    // (a randomized sketch could not be a statement-level contract)
    "agg_kll" ->
      """WITH cells AS (
        |  SELECT l_returnflag, l_linestatus,
        |    kll_sketch_agg(CAST(l_extendedprice AS DOUBLE)) AS sk
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus),
        |m AS (SELECT l_returnflag, COUNT(*) AS n_cells,
        |        kll_sketch_agg(sk) AS sk
        |      FROM cells GROUP BY l_returnflag)
        |SELECT l_returnflag, n_cells, kll_n(sk) AS n,
        |  round(kll_quantile(sk, 0.1D), 2) AS q10,
        |  round(kll_quantile(sk, 0.5D), 2) AS q50,
        |  round(kll_quantile(sk, 0.9D), 2) AS q90,
        |  round(kll_quantile(sk, 0.99D), 2) AS q99
        |FROM m ORDER BY l_returnflag""".stripMargin,

    // BM25 top-3 terms per doc (round 11): same grid as text_tfidf, the
    // score expression spelled with the identical literals/associativity
    // as the DuckDB oracle (ln/round are dual-dialect)
    // feature hashing (round 11b): native md5_48 buckets, complete 64-row
    // grid, three bounded aggregates — the DataFrame plan's statement twin
    "text_feature_hash" ->
      """WITH toks AS (
        |  SELECT doc_id, explode(split(text, ' ')) AS term FROM documents),
        |h AS (SELECT doc_id, term, md5_48(term) % 64 AS bucket FROM toks),
        |bt AS (SELECT bucket, COUNT(*) AS n_tokens FROM h GROUP BY bucket),
        |tm AS (SELECT md5_48(term) % 64 AS bucket, COUNT(*) AS n_terms
        |       FROM (SELECT DISTINCT term FROM toks) GROUP BY 1),
        |bd AS (SELECT bucket, COUNT(DISTINCT doc_id) AS n_docs
        |       FROM h GROUP BY bucket),
        |tot AS (SELECT COUNT(*) AS n_total FROM toks),
        |g AS (SELECT CAST(b AS BIGINT) AS bucket
        |      FROM (SELECT explode(sequence(0, 63)) AS b))
        |SELECT g.bucket,
        |  COALESCE(bt.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
        |  COALESCE(tm.n_terms, CAST(0 AS BIGINT)) AS n_terms,
        |  COALESCE(bd.n_docs, CAST(0 AS BIGINT)) AS n_docs,
        |  CAST(COALESCE(bt.n_tokens, CAST(0 AS BIGINT)) AS DOUBLE)
        |    / CAST(tot.n_total AS DOUBLE) AS mass_share
        |FROM g
        |LEFT JOIN bt ON bt.bucket = g.bucket
        |LEFT JOIN tm ON tm.bucket = g.bucket
        |LEFT JOIN bd ON bd.bucket = g.bucket
        |CROSS JOIN tot
        |ORDER BY g.bucket""".stripMargin,

    // interrupted time series (round 11b): Spark date functions, DIV
    // integer division — the identical IEEE fit expressions as the oracle
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
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    ${dsumSql("value")} AS rev
         |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
         |cutoff AS (
         |  SELECT date_add(CAST(MIN(ts) AS DATE),
         |    CAST(datediff(CAST(MAX(ts) AS DATE), CAST(MIN(ts) AS DATE)) DIV 2
         |      AS INT)) AS cut
         |  FROM events),
         |base AS (
         |  SELECT event_type,
         |    CAST(datediff(day, cut) AS BIGINT) AS x,
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

    "dedup_embed" ->
      s"""WITH $vecCorpusSql,
         |cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cent
         |  FROM embeddings WHERE vec_id % 50 = 0),
         |lcells AS (
         |  SELECT vec_id, pe, cell FROM (
         |    SELECT v.vec_id, v.embedding AS pe, c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |        ORDER BY round(${cosFd("v.embedding", "c.cent")}, 6) DESC, c.cent_id) AS crnk
         |    FROM vcorpus v CROSS JOIN cents c WHERE v.vec_id % 30000 >= 10000)
         |  WHERE crnk <= 3),
         |rcells AS (
         |  SELECT vec_id, be, cell FROM (
         |    SELECT b.vec_id, b.embedding AS be, c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |        ORDER BY round(${cosFd("b.embedding", "c.cent")}, 6) DESC, c.cent_id) AS crnk
         |    FROM vcorpus b CROSS JOIN cents c WHERE b.vec_id % 30000 < 10000)
         |  WHERE crnk = 1)
         |SELECT l.vec_id AS var_id, r.vec_id AS base_id,
         |  round(${cosFd("l.pe", "r.be")}, 6) AS cos
         |FROM lcells l JOIN rcells r ON l.cell = r.cell
         |WHERE ${cosFd("l.pe", "r.be")} >= 0.999
         |ORDER BY var_id, base_id""".stripMargin,

    // sign-LSH statement form: rounded float_dot sign bits, 3x4-bit band
    // keys, band equi-join, exact-cosine verify — the hyperplane twin of
    // dedup_embed's cell routing above
    "dedup_embed_lsh" ->
      s"""WITH $vecCorpusSql,
         |planes AS (
         |  SELECT vec_id AS pid, embedding AS pvec
         |  FROM embeddings WHERE vec_id < 12),
         |lsig AS (
         |  SELECT v.vec_id, CAST(FLOOR(p.pid / 4) AS INT) AS band,
         |    SUM((CASE WHEN round(float_dot(v.embedding, p.pvec), 6) >= 0
         |           THEN 1 ELSE 0 END)
         |      * (CASE CAST(p.pid % 4 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 2
         |           WHEN 2 THEN 4 ELSE 8 END)) AS bkey
         |  FROM vcorpus v CROSS JOIN planes p WHERE v.vec_id % 30000 >= 10000
         |  GROUP BY v.vec_id, CAST(FLOOR(p.pid / 4) AS INT)),
         |rsig AS (
         |  SELECT v.vec_id, CAST(FLOOR(p.pid / 4) AS INT) AS band,
         |    SUM((CASE WHEN round(float_dot(v.embedding, p.pvec), 6) >= 0
         |           THEN 1 ELSE 0 END)
         |      * (CASE CAST(p.pid % 4 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 2
         |           WHEN 2 THEN 4 ELSE 8 END)) AS bkey
         |  FROM vcorpus v CROSS JOIN planes p WHERE v.vec_id % 30000 < 10000
         |  GROUP BY v.vec_id, CAST(FLOOR(p.pid / 4) AS INT)),
         |cands AS (
         |  SELECT DISTINCT l.vec_id AS var_id, r.vec_id AS base_id
         |  FROM lsig l JOIN rsig r ON l.band = r.band AND l.bkey = r.bkey)
         |SELECT c.var_id, c.base_id,
         |  round(${cosFd("lv.embedding", "rv.embedding")}, 6) AS cos
         |FROM cands c
         |JOIN vcorpus lv ON lv.vec_id = c.var_id
         |JOIN vcorpus rv ON rv.vec_id = c.base_id
         |WHERE ${cosFd("lv.embedding", "rv.embedding")} >= 0.999
         |ORDER BY var_id, base_id""".stripMargin,

    // the corpus-self kNN join: ONE ranked-cells CTE serves both the
    // candidate sharding (crnk = 1) and the probe replicas (crnk <= 3) —
    // the statement form of VectorSearch.knnJoin's single argmin pass
    "sim_knn_join" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cent
         |  FROM embeddings WHERE vec_id % 50 = 0),
         |ranked_cells AS (
         |  SELECT vec_id, embedding, cell, crnk FROM (
         |    SELECT e.vec_id, e.embedding, c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosFd("e.embedding", "c.cent")}, 6) DESC, c.cent_id) AS crnk
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE crnk <= 3),
         |cells AS (SELECT vec_id AS cand_id, embedding AS ce, cell
         |          FROM ranked_cells WHERE crnk = 1),
         |probes AS (SELECT vec_id AS probe_id, embedding AS pe, cell FROM ranked_cells),
         |scored AS (
         |  SELECT p.probe_id, s.cand_id, round(${cosFd("p.pe", "s.ce")}, 6) AS cos
         |  FROM probes p JOIN cells s ON p.cell = s.cell
         |  WHERE s.cand_id <> p.probe_id),
         |ranked AS (
         |  SELECT probe_id, cand_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rnk
         |  FROM scored)
         |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos
         |FROM ranked WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,

    // exact MIPS via the native float_dot over the planted-variant corpus
    "sim_topk_mips" ->
      s"""WITH $vecCorpusSql,
         |scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |    round(float_dot(p.embedding, c.embedding), 6) AS dot
         |  FROM vcorpus p JOIN vcorpus c
         |    ON p.vec_id % 30000 >= 10000 AND c.vec_id % 30000 < 10000),
         |ranked AS (
         |  SELECT probe_id, cand_id, dot,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY dot DESC, cand_id) AS rnk
         |  FROM scored)
         |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, cand_id, dot
         |FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    // exercises the engine-registered native float_dot in SQL text
    "sim_topk" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(float_dot(embedding, embedding)) AS norm
        |  FROM embeddings),
        |scored AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |    round(float_dot(p.embedding, c.embedding) / (p.norm * c.norm), 6) AS cos
        |  FROM e p JOIN e c ON p.vec_id < 10 AND c.vec_id <> p.vec_id),
        |ranked AS (
        |  SELECT probe_id, cand_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rnk
        |  FROM scored)
        |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos
        |FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    "sim_topk_ivf" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cent
         |  FROM embeddings WHERE vec_id % 50 = 0),
         |assign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosFd("e.embedding", "c.cent")}, 6) DESC, c.cent_id) AS arnk
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE arnk = 1),
         |cells AS (
         |  SELECT e.vec_id AS cand_id, a.cell, e.embedding AS ce
         |  FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id),
         |probe_cells AS (
         |  SELECT probe_id, pe, cell FROM (
         |    SELECT p.vec_id AS probe_id, p.embedding AS pe, c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |        ORDER BY round(${cosFd("p.embedding", "c.cent")}, 6) DESC, c.cent_id) AS prnk
         |    FROM embeddings p CROSS JOIN cents c WHERE p.vec_id < 10)
         |  WHERE prnk <= 3),
         |scored AS (
         |  SELECT pc.probe_id, s.cand_id,
         |    round(${cosFd("pc.pe", "s.ce")}, 6) AS cos
         |  FROM probe_cells pc JOIN cells s ON pc.cell = s.cell
         |  WHERE s.cand_id <> pc.probe_id),
         |ranked AS (
         |  SELECT probe_id, cand_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rnk
         |  FROM scored)
         |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos
         |FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    // round-13b: Spark twins for the two tokenizer keys (DuckDB oracle
    // uses string_split/len/list-comprehension forms)
    "agg_cohens_kappa" ->
      """WITH rated AS (
        |  SELECT CASE WHEN n_chars < 250 THEN 0
        |      WHEN n_chars < 360 THEN 1 ELSE 2 END AS r1,
        |    CASE WHEN size(split(text, ' ')) < 46 THEN 0
        |      WHEN size(split(text, ' ')) < 66 THEN 1 ELSE 2 END AS r2
        |  FROM documents),
        |conf AS (SELECT r1, r2, COUNT(*) AS n FROM rated GROUP BY r1, r2),
        |row_m AS (SELECT r1, SUM(n) AS row_n FROM conf GROUP BY r1),
        |col_m AS (SELECT r2, SUM(n) AS col_n FROM conf GROUP BY r2),
        |tot AS (SELECT SUM(n) AS nn,
        |  SUM(CASE WHEN r1 = r2 THEN n ELSE 0 END) AS diag FROM conf),
        |pe_t AS (
        |  SELECT SUM(row_n * col_n) AS pe_num
        |  FROM row_m JOIN col_m ON row_m.r1 = col_m.r2),
        |scal AS (
        |  SELECT
        |    ROUND(CAST(diag AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS po,
        |    ROUND(CAST(pe_num AS DOUBLE)
        |      / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)), 6) AS pe,
        |    CASE WHEN CAST(pe_num AS DOUBLE)
        |        < CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) THEN
        |      ROUND((CAST(diag AS DOUBLE) / CAST(nn AS DOUBLE)
        |          - CAST(pe_num AS DOUBLE)
        |            / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)))
        |        / (1.0 - CAST(pe_num AS DOUBLE)
        |            / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))), 6)
        |    END AS kappa
        |  FROM tot CROSS JOIN pe_t)
        |SELECT CAST(conf.r1 AS INT) AS r1, CAST(conf.r2 AS INT) AS r2,
        |  CAST(conf.n AS BIGINT) AS n,
        |  CAST(scal.po AS DOUBLE) AS po, CAST(scal.pe AS DOUBLE) AS pe,
        |  CAST(scal.kappa AS DOUBLE) AS kappa
        |FROM conf CROSS JOIN scal
        |ORDER BY r1, r2""".stripMargin,

    "text_self_bleu" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, split(text, ' ') AS l
        |  FROM documents WHERE size(split(text, ' ')) >= 3),
        |tri_all AS (
        |  SELECT doc_id, lang,
        |    explode(transform(sequence(0, size(l) - 3),
        |      i -> concat_ws(' ', l[i], l[i + 1], l[i + 2]))) AS tok
        |  FROM docs),
        |tri AS (SELECT DISTINCT doc_id, lang, tok FROM tri_all),
        |df AS (SELECT tok, COUNT(*) AS df FROM tri GROUP BY tok),
        |per_doc AS (
        |  SELECT tri.doc_id, tri.lang, COUNT(*) AS n_tri,
        |    SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS n_shared
        |  FROM tri JOIN df ON tri.tok = df.tok
        |  GROUP BY tri.doc_id, tri.lang)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tri) AS BIGINT) AS tri_total,
        |  CAST(SUM(n_shared) AS BIGINT) AS tri_shared,
        |  CAST(ROUND(CAST(SUM(n_shared) AS DOUBLE)
        |    / CAST(SUM(n_tri) AS DOUBLE), 6) AS DOUBLE) AS self_bleu3
        |FROM per_doc GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "text_heaps" ->
      """WITH mx AS (SELECT MAX(doc_id) + 1 AS mxp1 FROM documents),
        |docs AS (
        |  SELECT CAST(FLOOR(CAST(doc_id AS DOUBLE) * 16.0 / mxp1) AS BIGINT)
        |      AS band,
        |    split(text, ' ') AS l
        |  FROM documents CROSS JOIN mx
        |  WHERE size(split(text, ' ')) >= 3),
        |toks AS (
        |  SELECT band,
        |    explode(transform(sequence(0, size(l) - 3),
        |      i -> concat_ws(' ', l[i], l[i + 1], l[i + 2]))) AS tok
        |  FROM docs),
        |per_band AS (SELECT band, COUNT(*) AS n_toks FROM toks
        |  GROUP BY band),
        |first_band AS (
        |  SELECT fb AS band, COUNT(*) AS v_new FROM (
        |    SELECT tok, MIN(band) AS fb FROM toks GROUP BY tok) fo
        |  GROUP BY fb),
        |g AS (
        |  SELECT p.band, p.n_toks, COALESCE(v.v_new, 0) AS v_new
        |  FROM per_band p LEFT JOIN first_band v ON p.band = v.band),
        |grid AS (
        |  SELECT a.band, SUM(b.n_toks) AS toks_cum, SUM(b.v_new) AS vocab_cum
        |  FROM g a JOIN g b ON b.band <= a.band GROUP BY a.band),
        |pts AS (
        |  SELECT band, toks_cum, vocab_cum,
        |    CAST(ROUND(ln(CAST(toks_cum AS DOUBLE)), 8) AS DECIMAL(20,8))
        |      AS x,
        |    CAST(ROUND(ln(CAST(vocab_cum AS DOUBLE)), 8) AS DECIMAL(20,8))
        |      AS y
        |  FROM grid),
        |f AS (SELECT COUNT(*) AS np, SUM(x) AS sx, SUM(y) AS sy,
        |  SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM pts)
        |SELECT band, CAST(toks_cum AS BIGINT) AS toks_cum,
        |  CAST(vocab_cum AS BIGINT) AS vocab_cum,
        |  CAST(ROUND((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS DOUBLE)
        |    AS beta,
        |  CAST(ROUND(exp(CAST(sy AS DOUBLE) / CAST(np AS DOUBLE)
        |    - ((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |      * (CAST(sx AS DOUBLE) / CAST(np AS DOUBLE))), 4) AS DOUBLE)
        |    AS k
        |FROM pts CROSS JOIN f ORDER BY band""".stripMargin,

    "dedup_saturation" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, text FROM documents WHERE doc_id % 5 = 0),
        |waved AS (
        |  SELECT md5_48(CAST(doc_id AS STRING)) % 4 AS wave, md5(text) AS th
        |  FROM corpus),
        |rows_w AS (SELECT wave, COUNT(*) AS n_rows FROM waved
        |  GROUP BY wave),
        |firsts AS (SELECT fw AS wave, COUNT(*) AS n_first FROM (
        |  SELECT th, MIN(wave) AS fw FROM waved GROUP BY th) fo
        |  GROUP BY fw),
        |g AS (SELECT r.wave, r.n_rows, COALESCE(f.n_first, 0) AS n_first
        |  FROM rows_w r LEFT JOIN firsts f ON r.wave = f.wave),
        |c AS (SELECT a.wave, a.n_rows, a.n_first,
        |    SUM(b.n_rows) AS rows_cum, SUM(b.n_first) AS distinct_cum
        |  FROM g a JOIN g b ON b.wave <= a.wave
        |  GROUP BY a.wave, a.n_rows, a.n_first)
        |SELECT wave, CAST(rows_cum AS BIGINT) AS rows_cum,
        |  CAST(distinct_cum AS BIGINT) AS distinct_cum,
        |  CAST(rows_cum - distinct_cum AS BIGINT) AS dups_cum,
        |  CAST(ROUND(CAST(rows_cum - distinct_cum AS DOUBLE)
        |    / CAST(rows_cum AS DOUBLE), 6) AS DOUBLE) AS dup_rate,
        |  CAST(ROUND(CAST(n_rows - n_first AS DOUBLE)
        |    / CAST(n_rows AS DOUBLE), 6) AS DOUBLE) AS marginal_rate
        |FROM c ORDER BY wave""".stripMargin,

    "sample_poisson_boot" ->
      """WITH reps AS (
        |  SELECT n_nationkey AS rep FROM nation WHERE n_nationkey < 8),
        |o AS (SELECT o_orderpriority, o_orderkey,
        |  CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100
        |    AS BIGINT) AS y
        |  FROM orders),
        |drawn AS (
        |  SELECT o_orderpriority, rep, y,
        |    CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
        |         WHEN u < 919698 THEN 2 WHEN u < 980998 THEN 3
        |         WHEN u < 996327 THEN 4 WHEN u < 999392 THEN 5
        |         WHEN u < 999903 THEN 6 WHEN u < 999976 THEN 7
        |         ELSE 8 END AS k
        |  FROM (SELECT o_orderpriority, rep, y,
        |      md5_48(CAST(o_orderkey AS STRING) || '|'
        |        || CAST(rep AS STRING)) % 1000000 AS u
        |    FROM o CROSS JOIN reps) h),
        |m AS (SELECT o_orderpriority, rep, SUM(k) AS n_drawn,
        |    SUM(k * y) AS ky
        |  FROM drawn GROUP BY o_orderpriority, rep)
        |SELECT o_orderpriority, CAST(rep AS BIGINT) AS rep,
        |  CAST(n_drawn AS BIGINT) AS n_drawn,
        |  CAST(CASE WHEN n_drawn > 0 THEN
        |    ROUND(CAST(ky AS DOUBLE) / CAST(n_drawn AS DOUBLE) / 100.0, 6)
        |    END AS DOUBLE) AS boot_mean
        |FROM m ORDER BY o_orderpriority, rep""".stripMargin,

    "sim_rrf" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |cosr AS (
         |  SELECT probe_id, cand_id, rnk AS cos_rnk FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |        ORDER BY round(${cosFd("p.embedding", "c.embedding")}, 6)
         |          DESC, c.vec_id) AS rnk
         |    FROM e p JOIN e c
         |      ON p.vec_id < 10 AND c.vec_id <> p.vec_id) rc
         |  WHERE rnk <= 10),
         |mipr AS (
         |  SELECT probe_id, cand_id, rnk AS dot_rnk FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |        ORDER BY round(float_dot(p.embedding, c.embedding), 6)
         |          DESC, c.vec_id) AS rnk
         |    FROM e p JOIN e c
         |      ON p.vec_id < 10 AND c.vec_id <> p.vec_id) rm
         |  WHERE rnk <= 10),
         |fused AS (
         |  SELECT COALESCE(c.probe_id, m.probe_id) AS probe_id,
         |    COALESCE(c.cand_id, m.cand_id) AS cand_id,
         |    c.cos_rnk, m.dot_rnk,
         |    ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + c.cos_rnk), 0)
         |      + COALESCE(CAST(1 AS DOUBLE) / (60 + m.dot_rnk), 0), 8)
         |      AS rrf
         |  FROM cosr c FULL OUTER JOIN mipr m
         |    ON c.probe_id = m.probe_id AND c.cand_id = m.cand_id),
         |ranked AS (
         |  SELECT probe_id, cand_id, rrf, cos_rnk, dot_rnk,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY rrf DESC, cand_id) AS rnk
         |  FROM fused)
         |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, cand_id, rrf,
         |  CAST(cos_rnk AS BIGINT) AS cos_rnk,
         |  CAST(dot_rnk AS BIGINT) AS dot_rnk
         |FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    "sim_recall_curve" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |cents AS (SELECT vec_id AS cent_id, embedding AS cent FROM e
         |  WHERE vec_id % 50 = 0),
         |assign AS (
         |  SELECT vec_id AS cand_id, embedding AS ce, cell FROM (
         |    SELECT a.vec_id, a.embedding, c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |        ORDER BY round(${cosFd("a.embedding", "c.cent")}, 6)
         |          DESC, c.cent_id) AS arnk
         |    FROM e a CROSS JOIN cents c) ac WHERE arnk = 1),
         |pc AS (
         |  SELECT probe_id, pe, cell, prnk FROM (
         |    SELECT p.vec_id AS probe_id, p.embedding AS pe,
         |      c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |        ORDER BY round(${cosFd("p.embedding", "c.cent")}, 6)
         |          DESC, c.cent_id) AS prnk
         |    FROM e p CROSS JOIN cents c WHERE p.vec_id < 10) pr
         |  WHERE prnk <= 3),
         |scored AS (
         |  SELECT pc.probe_id, a.cand_id,
         |    round(${cosFd("pc.pe", "a.ce")}, 6) AS cos, pc.prnk
         |  FROM pc JOIN assign a ON pc.cell = a.cell
         |  WHERE a.cand_id <> pc.probe_id),
         |nps AS (SELECT n_nationkey AS nprobe FROM nation
         |  WHERE n_nationkey BETWEEN 1 AND 3),
         |approx AS (
         |  SELECT nprobe, probe_id, cand_id FROM (
         |    SELECT n.nprobe, s.probe_id, s.cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY n.nprobe, s.probe_id
         |        ORDER BY s.cos DESC, s.cand_id) AS rnk
         |    FROM scored s JOIN nps n ON s.prnk <= n.nprobe) ap
         |  WHERE rnk <= 5),
         |gt AS (
         |  SELECT probe_id, cand_id FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |        ORDER BY round(${cosFd("p.embedding", "c.embedding")}, 6)
         |          DESC, c.vec_id) AS rnk
         |    FROM e p JOIN e c
         |      ON p.vec_id < 10 AND c.vec_id <> p.vec_id) gr
         |  WHERE rnk <= 5),
         |hits AS (
         |  SELECT nprobe, COUNT(*) AS n_hits
         |  FROM approx a JOIN gt g
         |    ON a.probe_id = g.probe_id AND a.cand_id = g.cand_id
         |  GROUP BY nprobe),
         |npr AS (SELECT COUNT(DISTINCT vec_id) AS n_probes FROM e
         |  WHERE vec_id < 10)
         |SELECT CAST(n.nprobe AS BIGINT) AS nprobe, n_probes,
         |  CAST(ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
         |    / (n_probes * 5.0), 6) AS DOUBLE) AS recall
         |FROM nps n LEFT JOIN hits h ON n.nprobe = h.nprobe CROSS JOIN npr
         |ORDER BY nprobe""".stripMargin,

    "dedup_contaminate" ->
      s"""WITH $corpusSql,
         |shard AS (SELECT doc_id, split(lower(trim(text)), ' ') AS l
         |          FROM corpus WHERE doc_id % 252000 >= 100000),
         |bench AS (SELECT doc_id AS eval_id, split(lower(trim(text)), ' ') AS l
         |          FROM documents WHERE doc_id % 7 = 0 OR doc_id % 10 = 0),
         |sg AS (SELECT doc_id, md5_48(g) AS hv FROM (
         |  SELECT doc_id, explode(transform(sequence(1, size(l) - 12),
         |    i -> concat_ws(' ', slice(l, i, 13)))) AS g
         |  FROM shard WHERE size(l) >= 13)),
         |bg AS (SELECT DISTINCT eval_id, md5_48(g) AS hv FROM (
         |  SELECT eval_id, explode(transform(sequence(1, size(l) - 12),
         |    i -> concat_ws(' ', slice(l, i, 13)))) AS g
         |  FROM bench WHERE size(l) >= 13))
         |SELECT s.doc_id,
         |  count(DISTINCT s.hv) AS n_gram_hits,
         |  count(DISTINCT b.eval_id) AS n_eval_docs
         |FROM sg s JOIN bg b ON s.hv = b.hv
         |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin,

    // Spark string literals process backslash escapes (DuckDB's don't),
    // so every regex backslash is doubled relative to the oracle text
    "text_pii" ->
      raw"""WITH pii AS (
           |  SELECT doc_id,
           |    text ||
           |    CASE WHEN doc_id % 3 = 0 THEN ' contact ' || source ||
           |      CAST(doc_id AS STRING) || '@example.com' ELSE '' END ||
           |    CASE WHEN doc_id % 4 = 0 THEN ' from 10.' ||
           |      CAST(doc_id % 256 AS STRING) || '.' ||
           |      CAST((doc_id * 7) % 256 AS STRING) || '.' ||
           |      CAST((doc_id * 13) % 256 AS STRING) ELSE '' END ||
           |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-' ||
           |      CAST(doc_id % 900 + 100 AS STRING) || '-' ||
           |      CAST(doc_id % 9000 + 1000 AS STRING) ELSE '' END AS ptext
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(regexp_count(ptext, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}') AS BIGINT) AS n_emails,
           |  CAST(regexp_count(ptext, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b') AS BIGINT) AS n_ips,
           |  CAST(regexp_count(ptext, '\\b555-\\d{3}-\\d{4}\\b') AS BIGINT) AS n_phones,
           |  regexp_replace(regexp_replace(regexp_replace(ptext,
           |    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>'),
           |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>'),
           |    '\\b555-\\d{3}-\\d{4}\\b', '<PHONE>') AS redacted
           |FROM pii ORDER BY doc_id""".stripMargin,

    "agg_ts_gapfill" ->
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS h0,
        |                  date_trunc('hour', max(ts)) AS h1 FROM events),
        |spine AS (SELECT explode(sequence(h0, h1, interval 1 hour)) AS hour FROM b),
        |grid AS (SELECT s.hour, t.event_type
        |         FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
        |hourly AS (SELECT date_trunc('hour', ts) AS hour, event_type,
        |    COUNT(*) AS n_events,
        |    CAST(ROUND(SUM(CAST(value AS DECIMAL(20,8))), 2) AS DOUBLE) AS hour_value
        |  FROM events WHERE value > 99 GROUP BY 1, 2)
        |SELECT g.hour, g.event_type,
        |  coalesce(h.n_events, CAST(0 AS BIGINT)) AS n_events,
        |  last_value(h.hour_value, true)
        |    OVER (PARTITION BY g.event_type ORDER BY g.hour) AS fill_value,
        |  (h.n_events IS NULL) AS is_gap
        |FROM grid g LEFT JOIN hourly h
        |  ON g.hour = h.hour AND g.event_type = h.event_type
        |ORDER BY g.hour, g.event_type""".stripMargin,

    "text_unigram_lm" ->
      """WITH toks AS (SELECT doc_id, explode(split(text, ' ')) AS tok
        |              FROM documents),
        |counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        |scal AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total,
        |  CAST(LEAST(COUNT(*), 24) + 1 AS BIGINT) AS v_size FROM counts),
        |vocab AS (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT 24),
        |scored AS (SELECT t.doc_id,
        |    CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov,
        |    round(ln(CAST(coalesce(v.c, 0) + 1 AS DOUBLE)
        |      / (s.n_total + s.v_size)), 8) AS logp
        |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok CROSS JOIN scal s),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_tok, CAST(SUM(oov) AS BIGINT) AS n_oov,
        |    CAST(SUM(CAST(logp AS DECIMAL(20,8))) * 100000000 AS BIGINT) AS s8
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_tok, n_oov,
        |  CAST(CASE WHEN s8 >= 0 THEN (s8 * 2 + n_tok * 100) DIV (n_tok * 200)
        |       ELSE -((-s8 * 2 + n_tok * 100) DIV (n_tok * 200)) END AS DOUBLE)
        |    / 1000000.0 AS mean_logp
        |FROM agg ORDER BY doc_id""".stripMargin,

    "agg_approx_quantile" ->
      """SELECT o_orderstatus, round(q[0], 2) AS p50_approx,
        |  round(q[1], 2) AS p95_approx, n
        |FROM (SELECT o_orderstatus,
        |    approx_percentile(o_totalprice, array(0.5, 0.95), 10000) AS q,
        |    count(*) AS n
        |  FROM orders GROUP BY o_orderstatus)
        |ORDER BY o_orderstatus""".stripMargin,

    // ------------------------------------------------------ text analysis
    "text_lang" ->
      """SELECT doc_id, lang,
        |  CASE WHEN en_score >= 2 THEN 'en' ELSE 'und' END AS predicted,
        |  en_score,
        |  (CASE WHEN en_score >= 2 THEN 'en' ELSE 'und' END) = lang AS agree
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(size(filter(split(text, ' '),
        |      x -> x IN ('the', 'a', 'data', 'value'))) AS BIGINT) AS en_score
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """SELECT doc_id, n_tok,
        |  round(stop_ratio, 6) AS stop_ratio,
        |  round(alpha_ratio, 6) AS alpha_ratio,
        |  round(0.3 * least(1.0, CAST(n_tok AS DOUBLE) / 100.0)
        |      + 0.4 * (1.0 - stop_ratio)
        |      + 0.3 * alpha_ratio, 6) AS score
        |FROM (
        |  SELECT doc_id,
        |    CAST(size(split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(size(filter(split(text, ' '),
        |        x -> x IN ('the', 'a', 'value', 'data'))) AS DOUBLE)
        |      / CAST(size(split(text, ' ')) AS DOUBLE) AS stop_ratio,
        |    CAST(length(regexp_replace(text, '[^a-z]', '')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE) AS alpha_ratio
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // Spark dialect of the curriculum sampler (native md5_48 in the gate)
    "text_curriculum" ->
      s"""WITH $curriculumKeptSparkSql
         |SELECT doc_id, tier,
         |  CAST(100.0 AS DOUBLE) / CAST(rate AS DOUBLE) AS weight
         |FROM kept ORDER BY doc_id""".stripMargin,

    // Kish effective sample size of the curriculum sample (round 11c):
    // decimal-safe S1^2/S2 in integer micro units
    "sample_ess" -> {
      val w10 = "CASE tier WHEN 'high' THEN 10L WHEN 'mid' THEN 25L ELSE 100L END"
      s"""WITH $curriculumKeptSparkSql,
         |rows_ AS (
         |  SELECT tier AS scope, $w10 AS w10 FROM kept
         |  UNION ALL
         |  SELECT 'all' AS scope, $w10 AS w10 FROM kept),
         |m AS (
         |  SELECT scope, COUNT(*) AS n,
         |    SUM(w10) AS s1, SUM(w10 * w10) AS s2
         |  FROM rows_ GROUP BY scope)
         |SELECT scope, n,
         |  CAST(s1 AS DOUBLE) / 10.0 AS sum_w,
         |  CAST(CAST(s1 AS DECIMAL(18,0)) * CAST(s1 AS DECIMAL(18,0))
         |    * 1000000 DIV CAST(s2 AS DECIMAL(18,0)) AS DOUBLE)
         |    / 1000000.0 AS ess,
         |  CAST(CAST(s1 AS DECIMAL(18,0)) * CAST(s1 AS DECIMAL(18,0))
         |    * 1000000 DIV (CAST(s2 AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0)))
         |    AS DOUBLE) / 1000000.0 AS ess_ratio
         |FROM m ORDER BY scope""".stripMargin
    },

    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(size(split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(regexp_count(text, '[a-z0-9]+') AS BIGINT) AS re_tokens,
        |  CAST(regexp_count(text, '[a-z0-9]{1,4}') AS BIGINT) AS bpe_ish
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_normalize" ->
      """SELECT doc_id,
        |  array_join(filter(split(regexp_replace(lower(trim(text)), '\\s+', ' '), ' '),
        |    t -> NOT t IN ('a', 'the') AND t <> ''), ' ') AS norm_text,
        |  CAST(size(filter(split(regexp_replace(lower(trim(text)), '\\s+', ' '), ' '),
        |    t -> NOT t IN ('a', 'the') AND t <> '')) AS BIGINT) AS n_tokens_norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH tok AS (SELECT doc_id, split(text, ' ') AS l FROM documents),
        |stats AS (SELECT doc_id, CAST(size(l) AS BIGINT) AS n,
        |  round(CAST(size(array_distinct(l)) AS DOUBLE)
        |    / CAST(size(l) AS DOUBLE), 4) AS ttr
        |  FROM tok),
        |big AS (SELECT doc_id, bg FROM tok
        |  LATERAL VIEW explode(transform(sequence(1, size(l) - 1),
        |    i -> concat_ws(' ', element_at(l, i), element_at(l, i + 1)))) t AS bg),
        |mx AS (SELECT doc_id, MAX(c) AS mc FROM
        |  (SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY doc_id, bg)
        |  GROUP BY doc_id)
        |SELECT s.doc_id, s.n AS n_tokens, s.ttr,
        |  round(CAST(m.mc AS DOUBLE) / CAST(s.n - 1 AS DOUBLE), 4)
        |    AS top_bigram_frac
        |FROM stats s JOIN mx m ON s.doc_id = m.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    "text_fingerprint" ->
      s"""WITH tok AS (SELECT doc_id, split(text, ' ') l FROM documents),
         |sh AS (SELECT doc_id, explode(array_distinct($shingles)) s
         |       FROM tok WHERE size(l) >= 3),
         |hv AS (SELECT doc_id, md5_48(s) AS hv FROM sh),
         |ranked AS (SELECT doc_id, hv,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hv) AS rnk
         |  FROM hv)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, hv
         |FROM ranked WHERE rnk <= 8 ORDER BY doc_id, rnk""".stripMargin,

    // native sliding_min keeps the gram array referenced exactly once —
    // the HOF-inlining trap (CollapseProject) cannot go quadratic here
    "text_winnow" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    transform(sequence(1, length(text) - 7),
        |      i -> md5_48(substring(text, i, 8))) AS grams
        |  FROM documents WHERE length(text) >= 23)
        |SELECT doc_id, hv FROM (
        |  SELECT doc_id, explode(array_distinct(sliding_min(grams, 16))) AS hv
        |  FROM g)
        |ORDER BY doc_id, hv""".stripMargin,

    "dedup_winnow" ->
      s"""WITH $corpusSql,
         |g AS (
         |  SELECT doc_id,
         |    transform(sequence(1, length(text) - 7),
         |      i -> md5_48(substring(text, i, 8))) AS grams
         |  FROM corpus WHERE length(text) >= 23),
         |f AS (
         |  SELECT doc_id, explode(array_distinct(sliding_min(grams, 16))) AS hv
         |  FROM g),
         |rare AS (SELECT hv FROM f GROUP BY hv HAVING count(*) <= 8),
         |fk AS (SELECT f.doc_id, f.hv FROM f JOIN rare USING (hv))
         |SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
         |FROM fk x JOIN fk y ON x.hv = y.hv AND x.doc_id < y.doc_id
         |GROUP BY x.doc_id, y.doc_id
         |HAVING count(*) >= 2
         |ORDER BY a, b""".stripMargin,

    // content-defined chunking: native gram_hash48 posexplode for the
    // boundary scan (the DuckDB oracle re-derives each gram hash inline)
    "dedup_cdc" ->
      s"""WITH $corpusSql,
         |c AS (SELECT doc_id, text FROM corpus WHERE length(text) >= 8),
         |g AS (
         |  SELECT doc_id, text, p0, h FROM c
         |  LATERAL VIEW posexplode(gram_hash48(text, 8)) t AS p0, h),
         |cuts AS (
         |  SELECT doc_id, text, p0 + 1 AS pos FROM g
         |  WHERE p0 = 0 OR h % 64 = 0),
         |spans AS (
         |  SELECT doc_id, text, pos,
         |    LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS next
         |  FROM cuts),
         |chunks AS (
         |  SELECT doc_id,
         |    substring(text, pos, coalesce(next, length(text) + 1) - pos) AS chunk
         |  FROM spans)
         |SELECT md5_48(chunk) AS chunk_hash,
         |  COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ,
         |  MIN(doc_id) AS rep_doc,
         |  CAST(MAX(length(chunk)) AS BIGINT) AS chunk_len
         |FROM chunks GROUP BY md5_48(chunk)
         |HAVING COUNT(DISTINCT doc_id) >= 2
         |ORDER BY chunk_hash""".stripMargin,

    "multimodal_join" ->
      """SELECT d.lang, e.label, count(*) AS n,
        |  CAST(sum(d.n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |  round(CAST(sum(CAST(round(sqrt(float_dot(e.embedding, e.embedding)), 6)
        |    AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6) AS avg_l2
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY d.lang, e.label ORDER BY d.lang, e.label""".stripMargin,

    // Spark dialect: the sketch itself via the registered count_min UDAF
    // + md5_48 lookups (DuckDB rebuilds the grid from exact counts)
    "agg_count_min" ->
      """WITH sk AS (SELECT count_min(event_type, 4, 1024) AS sk FROM events),
        |types AS (SELECT DISTINCT event_type FROM events)
        |SELECT event_type,
        |  least(
        |    element_at(sk, CAST(md5_48(concat('0:', event_type)) % 1024 AS INT) + 1),
        |    element_at(sk, CAST(md5_48(concat('1:', event_type)) % 1024 AS INT) + 1025),
        |    element_at(sk, CAST(md5_48(concat('2:', event_type)) % 1024 AS INT) + 2049),
        |    element_at(sk, CAST(md5_48(concat('3:', event_type)) % 1024 AS INT) + 3073)) AS est_count
        |FROM types CROSS JOIN sk
        |ORDER BY event_type""".stripMargin,

    // ------------------------------------------------- multimodal columns
    // Spark dialect: integer division is DIV (DuckDB spells it //)
    "mm_shard" ->
      """WITH sized AS (
        |  SELECT doc_id, source, n_chars + 16 AS bytes FROM documents),
        |packed AS (
        |  SELECT source, doc_id, bytes,
        |    (SUM(bytes) OVER (PARTITION BY source ORDER BY doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
        |      DIV 16384 AS shard_id
        |  FROM sized)
        |SELECT source, CAST(shard_id AS BIGINT) AS shard_id,
        |  COUNT(*) AS n_docs, CAST(SUM(bytes) AS BIGINT) AS shard_bytes,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM packed GROUP BY source, shard_id
        |ORDER BY source, shard_id""".stripMargin,

    // Spark dialect: ignoreNulls is last(expr, true) — DuckDB puts
    // IGNORE NULLS inside the call parentheses
    "events_attribution" ->
      s"""WITH attr AS (
         |  SELECT event_type, value,
         |    last(CASE WHEN event_type <> 'purchase' THEN event_type END, true)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
         |  FROM events)
         |SELECT channel, COUNT(*) AS conversions,
         |  ${dsumSql("value")} AS attributed_value
         |FROM attr
         |WHERE event_type = 'purchase' AND channel IS NOT NULL
         |GROUP BY channel ORDER BY channel""".stripMargin,

    // Spark dialect: HOF tokenization + LATERAL VIEW explode (DuckDB uses
    // string_split + generate_series lateral), DIV for integer division
    "text_bigram_lm" ->
      """WITH tok AS (SELECT doc_id, split(text, ' ') AS l FROM documents
        |             WHERE size(split(text, ' ')) >= 2),
        |big AS (SELECT doc_id, element_at(l, i) AS w1, element_at(l, i + 1) AS w2
        |  FROM tok LATERAL VIEW explode(sequence(1, size(l) - 1)) g AS i),
        |bg AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
        |c1t AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
        |v AS (SELECT COUNT(DISTINCT w2) + 1 AS v FROM big),
        |scored AS (SELECT b.doc_id,
        |    round(ln(CAST(bg.c12 + 1 AS DOUBLE) / (c1t.c1 + v.v)), 8) AS logp
        |  FROM big b JOIN bg ON b.w1 = bg.w1 AND b.w2 = bg.w2
        |  JOIN c1t ON b.w1 = c1t.w1 CROSS JOIN v),
        |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM(CAST(logp AS DECIMAL(20,8))) * 100000000 AS BIGINT) AS s8
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |  CAST(CASE WHEN s8 >= 0 THEN (s8 * 2 + n_bigrams * 100) DIV (n_bigrams * 200)
        |       ELSE -((-s8 * 2 + n_bigrams * 100) DIV (n_bigrams * 200)) END AS DOUBLE)
        |    / 1000000.0 AS mean_logp
        |FROM agg ORDER BY doc_id""".stripMargin,

    "mm_pixels" ->
      s"""WITH px AS (SELECT doc_id, $mediaPx AS p FROM documents)
         |SELECT doc_id,
         |  array_min(p) AS px_min, array_max(p) AS px_max,
         |  round(CAST(aggregate(p, CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE) / 16.0, 6) AS px_mean,
         |  CAST(size(filter(p, x -> x >= 0 AND x < 64)) AS BIGINT) AS h0,
         |  CAST(size(filter(p, x -> x >= 64 AND x < 128)) AS BIGINT) AS h1,
         |  CAST(size(filter(p, x -> x >= 128 AND x < 192)) AS BIGINT) AS h2,
         |  CAST(size(filter(p, x -> x >= 192 AND x < 256)) AS BIGINT) AS h3
         |FROM px ORDER BY doc_id""".stripMargin,

    "mm_sharpness" -> {
      val lap = (for { r <- Seq(1, 2); c <- Seq(1, 2) } yield
        s"CAST(4*element_at(p, ${r * 4 + c + 1}) - element_at(p, ${(r - 1) * 4 + c + 1})" +
          s" - element_at(p, ${(r + 1) * 4 + c + 1}) - element_at(p, ${r * 4 + c})" +
          s" - element_at(p, ${r * 4 + c + 2}) AS BIGINT)").mkString(", ")
      s"""WITH px AS (SELECT doc_id, $mediaPx AS p FROM documents),
         |l AS (SELECT doc_id, array($lap) AS ls FROM px),
         |v AS (SELECT doc_id,
         |    4 * aggregate(ls, CAST(0 AS BIGINT), (a, x) -> a + x * x)
         |      - aggregate(ls, CAST(0 AS BIGINT), (a, x) -> a + x)
         |        * aggregate(ls, CAST(0 AS BIGINT), (a, x) -> a + x) AS v16
         |  FROM l)
         |SELECT doc_id,
         |  CAST(round(CAST(v16 AS DOUBLE) / 16.0, 6) AS DOUBLE) AS lap_var,
         |  v16 < 320000 AS is_blurry
         |FROM v ORDER BY doc_id""".stripMargin
    },

    "mm_resize" ->
      s"""WITH px AS (SELECT doc_id, $mediaPx AS p FROM documents)
         |SELECT doc_id, 4 AS n_bytes, 2 AS width, 2 AS height,
         |  CAST(element_at(p, 1) + element_at(p, 3)
         |     + element_at(p, 9) + element_at(p, 11) AS BIGINT) AS checksum
         |FROM px ORDER BY doc_id""".stripMargin,

    "mm_frames" ->
      s"""WITH px AS (SELECT doc_id, $mediaPx AS p FROM documents),
         |fr AS (
         |  SELECT doc_id, f.frame_no,
         |    round(CAST(element_at(p, f.frame_no * 4 + 1) + element_at(p, f.frame_no * 4 + 2)
         |             + element_at(p, f.frame_no * 4 + 3) + element_at(p, f.frame_no * 4 + 4)
         |      AS DOUBLE) / 4.0, 6) AS frame_mean
         |  FROM px CROSS JOIN (VALUES (0), (2)) AS f(frame_no))
         |SELECT doc_id, CAST(frame_no AS INT) AS frame_no, frame_mean
         |FROM fr ORDER BY doc_id, frame_no""".stripMargin,

    // the PNG codec round trip is lossless (MultimodalSpec asserts the
    // partition-batch path byte-equal to the expression path), so the SQL
    // statement form IS the pixel math
    "mm_batch_stats" ->
      s"""WITH px AS (SELECT doc_id, $mediaPx AS p FROM documents)
         |SELECT doc_id, array_min(p) AS px_min, array_max(p) AS px_max,
         |  round(CAST(aggregate(p, CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE) / 16.0, 6) AS px_mean
         |FROM px ORDER BY doc_id""".stripMargin,

    "mm_phash" -> {
      val dhash = (for { r <- 0 until 4; c <- 0 until 3 } yield
        s"CASE WHEN element_at(p, ${r * 4 + c + 1}) < element_at(p, ${r * 4 + c + 2}) " +
          s"THEN CAST(${1L << (r * 3 + c)} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      val ahash = (0 until 16).map(i =>
        s"CASE WHEN CAST(element_at(p, ${i + 1}) AS BIGINT) * 16 > psum " +
          s"THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""WITH px AS (SELECT doc_id, $mediaPx AS p FROM documents),
         |ps AS (SELECT doc_id, p,
         |  aggregate(p, CAST(0 AS BIGINT), (a, x) -> a + x) AS psum FROM px),
         |sig AS (SELECT doc_id, $dhash AS dhash, $ahash AS ahash FROM ps)
         |SELECT dhash, COUNT(*) AS n_imgs, MIN(doc_id) AS rep_doc_id,
         |  COUNT(DISTINCT ahash) AS n_ahash
         |FROM sig GROUP BY dhash HAVING COUNT(*) > 1
         |ORDER BY dhash""".stripMargin
    },

    "mm_dedup" -> {
      val dhash = (for { r <- 0 until 4; c <- 0 until 3 } yield
        s"CASE WHEN element_at(p, ${r * 4 + c + 1}) < element_at(p, ${r * 4 + c + 2}) " +
          s"THEN CAST(${1L << (r * 3 + c)} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""WITH px0 AS (SELECT doc_id, $mediaPx AS p FROM documents),
         |pxv AS (SELECT doc_id + 500000 AS doc_id,
         |    transform(p, (x, i) -> IF(i = 15, 255 - x, x)) AS p
         |  FROM px0 WHERE doc_id % 9 = 0),
         |px AS (SELECT * FROM px0 UNION ALL SELECT * FROM pxv),
         |sig AS (SELECT doc_id, $dhash AS h FROM px)
         |SELECT sa.doc_id AS a, sb.doc_id AS b,
         |  CAST(bit_count(sa.h ^ sb.h) AS BIGINT) AS hamming
         |FROM sig sa JOIN sig sb ON sa.doc_id < sb.doc_id
         |WHERE bit_count(sa.h ^ sb.h) <= 1
         |ORDER BY a, b""".stripMargin
    },

    // --------------------------------------- round-7 additions (this file)
    // the statement form runs the REAL bloom-gated plan (bloom_agg /
    // bloom_contains are the engine's registered native functions)
    "dedup_bloom" ->
      s"""WITH $corpusSql,
         |base AS (SELECT doc_id AS base_id, md5_48(lower(trim(text))) AS hv
         |  FROM corpus WHERE doc_id % 252000 < 100000),
         |batch AS (SELECT doc_id, md5_48(lower(trim(text))) AS hv
         |  FROM corpus WHERE doc_id % 252000 >= 100000),
         |bf AS (SELECT bloom_agg(hv, 131072, 5) AS bf FROM base)
         |SELECT /*+ SHUFFLE_HASH(s) */ b.doc_id,
         |  MIN(s.base_id) AS base_id, COUNT(*) AS n_base
         |FROM batch b CROSS JOIN bf
         |JOIN base s ON b.hv = s.hv
         |WHERE bloom_contains(bf.bf, b.hv)
         |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin,

    // Spark regexp_replace is global by default — no 'g' flag arg
    "dedup_url" ->
      raw"""WITH u AS (
           |  SELECT doc_id,
           |    (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
           |    (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
           |    source || '.Example.com' ||
           |    (CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END) ||
           |    '/docs/' || CAST(doc_id % 100 AS STRING) ||
           |    (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
           |    (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&utm_campaign=x' ELSE '' END) ||
           |    (CASE WHEN doc_id % 6 = 0 THEN '#sec2' ELSE '' END) AS url
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, url,
           |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           |      regexp_replace(regexp_replace(regexp_replace(lower(url),
           |      '#.*$$', ''),
           |      '[?&]utm_[^&#]*', ''),
           |      '\\?&', '?'),
           |      '\\?$$', ''),
           |      '://www\\.', '://'),
           |      ':443/', '/'),
           |      '/$$', '') AS curl
           |  FROM u)
           |SELECT curl, COUNT(*) AS n_docs,
           |  COUNT(DISTINCT url) AS n_variants, MIN(doc_id) AS rep_doc_id
           |FROM c GROUP BY curl ORDER BY curl""".stripMargin,

    "text_quality_lr" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    round(least(1.0,
        |      CAST(size(split(text, ' ')) AS DOUBLE) / 100.0), 6) AS x_len,
        |    round(CAST(size(filter(split(text, ' '),
        |        x -> x IN ('the', 'a', 'value', 'data'))) AS DOUBLE)
        |      / CAST(size(split(text, ' ')) AS DOUBLE), 6) AS x_stop,
        |    round(CAST(length(regexp_replace(text, '[^a-z]', '')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE), 6) AS x_alpha,
        |    round(CAST(length(regexp_replace(text, ' ', '')) AS DOUBLE)
        |      / CAST(size(split(text, ' ')) AS DOUBLE), 6) AS x_wlen,
        |    round(CAST(length(regexp_replace(text, '[^0-9]', '')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE), 6) AS x_digit
        |  FROM documents),
        |z AS (
        |  SELECT doc_id, x_len, x_stop, x_alpha, x_wlen, x_digit,
        |    -1.5 + 2.1 * x_len - 3.0 * x_stop + 1.8 * x_alpha
        |      + 0.12 * x_wlen - 2.5 * x_digit AS zv
        |  FROM f)
        |SELECT doc_id, x_len, x_stop, x_alpha, x_wlen, x_digit,
        |  round(zv, 6) AS z,
        |  round(1.0 / (1.0 + exp(-zv)), 6) AS p_keep,
        |  zv > 0.0 AS keep
        |FROM z ORDER BY doc_id""".stripMargin,

    "embed_matryoshka" -> {
      def cosK(k: Int): String =
        s"round(float_dot(slice(p.pe, 1, $k), slice(e.embedding, 1, $k)) " +
          s"/ (sqrt(float_dot(slice(p.pe, 1, $k), slice(p.pe, 1, $k))) " +
          s"* sqrt(float_dot(slice(e.embedding, 1, $k), slice(e.embedding, 1, $k)))), 6)"
      s"""WITH probes AS (
         |  SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 10),
         |pairs AS (
         |  SELECT p.probe_id, e.vec_id AS cand_id,
         |    ${cosK(16)} AS c16, ${cosK(32)} AS c32, ${cosK(64)} AS c64
         |  FROM embeddings e CROSS JOIN probes p WHERE e.vec_id <> p.probe_id),
         |r AS (
         |  SELECT probe_id, cand_id, c16, c32, c64,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY c16 DESC, cand_id) AS r16,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY c32 DESC, cand_id) AS r32,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY c64 DESC, cand_id) AS r64
         |  FROM pairs)
         |SELECT probe_id,
         |  MAX(CASE WHEN r16 = 1 THEN cand_id END) AS top1_16,
         |  MAX(CASE WHEN r16 = 1 THEN c16 END) AS cos_16,
         |  MAX(CASE WHEN r32 = 1 THEN cand_id END) AS top1_32,
         |  MAX(CASE WHEN r32 = 1 THEN c32 END) AS cos_32,
         |  MAX(CASE WHEN r64 = 1 THEN cand_id END) AS top1_64,
         |  MAX(CASE WHEN r64 = 1 THEN c64 END) AS cos_64,
         |  (MAX(CASE WHEN r16 = 1 THEN cand_id END)
         |    = MAX(CASE WHEN r64 = 1 THEN cand_id END)) AS agree_16,
         |  (MAX(CASE WHEN r32 = 1 THEN cand_id END)
         |    = MAX(CASE WHEN r64 = 1 THEN cand_id END)) AS agree_32
         |FROM r GROUP BY probe_id ORDER BY probe_id""".stripMargin
    },

    "events_cohort" ->
      """WITH firsts AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', MIN(CAST(ts AS DATE))) AS DATE) AS cohort_week
        |  FROM events GROUP BY user_id),
        |acts AS (
        |  SELECT DISTINCT e.user_id, f.cohort_week,
        |    CAST(datediff(CAST(date_trunc('week', CAST(e.ts AS DATE)) AS DATE),
        |      f.cohort_week) / 7 AS BIGINT) AS week_offset
        |  FROM events e JOIN firsts f ON e.user_id = f.user_id)
        |SELECT cohort_week, week_offset, COUNT(*) AS n_users
        |FROM acts GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "mm_audio_feats" -> {
      def en(base: String) = (1 to 4)
        .map(i => s"CAST(element_at(p, $base + $i) - 128 AS BIGINT) * CAST(element_at(p, $base + $i) - 128 AS BIGINT)")
        .mkString(" + ")
      def zc(base: String) = (1 to 3)
        .map(i => s"CASE WHEN (element_at(p, $base + $i) >= 128) != (element_at(p, $base + $i + 1) >= 128) THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH px AS (SELECT doc_id, $mediaPx AS p FROM documents),
         |fr AS (
         |  SELECT doc_id, f.f AS frame_no,
         |    ${en("f.f*4")} AS energy, ${zc("f.f*4")} AS zcr
         |  FROM px CROSS JOIN (VALUES (0), (1), (2), (3)) AS f(f))
         |SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
         |  CAST(energy AS BIGINT) AS energy,
         |  round(sqrt(CAST(energy AS DOUBLE) / 4.0), 6) AS rms,
         |  CAST(zcr AS BIGINT) AS zcr, energy >= 21844 AS active
         |FROM fr ORDER BY doc_id, frame_no""".stripMargin
    },

    "mm_scene_detect" -> {
      def fs(f: Int) = (1 to 4)
        .map(i => s"CAST(element_at(p, ${f * 4 + i}) AS BIGINT)").mkString(" + ")
      val ds = (1 to 3).map(f => s"abs((${fs(f)}) - (${fs(f - 1)}))")
      val cuts = (1 to 3).map(f =>
        s"CASE WHEN ${ds(f - 1)} > 200 THEN $f ELSE 0 END")
      s"""WITH px AS (SELECT doc_id, $mediaPx AS p FROM documents)
         |SELECT doc_id,
         |  CAST(${cuts.map(c => s"CASE WHEN ($c) > 0 THEN 1 ELSE 0 END")
              .mkString(" + ")} + 1 AS BIGINT) AS n_scenes,
         |  CAST(CASE WHEN (${cuts(0)}) > 0 THEN 1
         |       WHEN (${cuts(1)}) > 0 THEN 2
         |       WHEN (${cuts(2)}) > 0 THEN 3 ELSE 0 END AS BIGINT)
         |    AS first_cut,
         |  greatest(${ds.mkString(", ")}) AS max_delta
         |FROM px ORDER BY doc_id""".stripMargin
    },

    // recall audit: the sim_topk + sim_topk_ivf statement chains composed
    "sim_recall_audit" ->
      s"""WITH en AS (
         |  SELECT vec_id, embedding,
         |    sqrt(float_dot(embedding, embedding)) AS norm
         |  FROM embeddings),
         |bscored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |    round(float_dot(p.embedding, c.embedding) / (p.norm * c.norm), 6) AS cos
         |  FROM en p JOIN en c ON p.vec_id < 10 AND c.vec_id <> p.vec_id),
         |brute AS (
         |  SELECT probe_id, cand_id FROM (
         |    SELECT probe_id, cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rnk
         |    FROM bscored) WHERE rnk <= 5),
         |cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cent
         |  FROM embeddings WHERE vec_id % 50 = 0),
         |assign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosFd("e.embedding", "c.cent")}, 6) DESC, c.cent_id) AS arnk
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE arnk = 1),
         |icells AS (
         |  SELECT e.vec_id AS cand_id, a.cell, e.embedding AS ce
         |  FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id),
         |probe_cells AS (
         |  SELECT probe_id, pe, cell FROM (
         |    SELECT p.vec_id AS probe_id, p.embedding AS pe, c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |        ORDER BY round(${cosFd("p.embedding", "c.cent")}, 6) DESC, c.cent_id) AS prnk
         |    FROM embeddings p CROSS JOIN cents c WHERE p.vec_id < 10)
         |  WHERE prnk <= 3),
         |iscored AS (
         |  SELECT pc.probe_id, s.cand_id,
         |    round(${cosFd("pc.pe", "s.ce")}, 6) AS cos
         |  FROM probe_cells pc JOIN icells s ON pc.cell = s.cell
         |  WHERE s.cand_id <> pc.probe_id),
         |ivf AS (
         |  SELECT probe_id, cand_id FROM (
         |    SELECT probe_id, cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rnk
         |    FROM iscored) WHERE rnk <= 5)
         |SELECT b.probe_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN i.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  round(CAST(SUM(CASE WHEN i.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS recall
         |FROM brute b LEFT JOIN ivf i
         |  ON b.probe_id = i.probe_id AND b.cand_id = i.cand_id
         |GROUP BY b.probe_id ORDER BY b.probe_id""".stripMargin,

    // nDCG@5 of the IVF ranking vs the brute-force truth (round 11b):
    // natural-log discount, per-term round 8 into decimal sums
    "sim_ndcg" ->
      s"""WITH en AS (
         |  SELECT vec_id, embedding,
         |    sqrt(float_dot(embedding, embedding)) AS norm
         |  FROM embeddings),
         |bscored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |    round(float_dot(p.embedding, c.embedding) / (p.norm * c.norm), 6) AS cos
         |  FROM en p JOIN en c ON p.vec_id < 10 AND c.vec_id <> p.vec_id),
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
         |        ORDER BY round(${cosFd("e.embedding", "c.cent")}, 6) DESC,
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
         |        ORDER BY round(${cosFd("p.embedding", "c.cent")}, 6) DESC,
         |          c.cent_id) AS prnk
         |    FROM embeddings p CROSS JOIN cents c WHERE p.vec_id < 10)
         |  WHERE prnk <= 3),
         |iscored AS (
         |  SELECT pc.probe_id, s.cand_id,
         |    round(${cosFd("pc.pe", "s.ce")}, 6) AS cos
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
         |ORDER BY idcg.probe_id""".stripMargin,

    "events_features" ->
      s"""WITH f AS (
         |  SELECT user_id, COUNT(*) AS n_events,
         |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
         |    COUNT(*) FILTER (WHERE event_type = 'view') AS n_views,
         |    COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
         |    MIN(CAST(ts AS DATE)) AS first_day,
         |    MAX(CAST(ts AS DATE)) AS last_day,
         |    ${dsumSql("CASE WHEN event_type = 'purchase' THEN value END")}
         |      AS pv
         |  FROM events GROUP BY user_id),
         |mx AS (SELECT MAX(CAST(ts AS DATE)) AS d1 FROM events)
         |SELECT user_id, n_events,
         |  CAST(n_purchases AS BIGINT) AS n_purchases,
         |  CAST(n_views AS BIGINT) AS n_views,
         |  CAST(n_errors AS BIGINT) AS n_errors,
         |  CAST(datediff(d1, last_day) AS BIGINT) AS recency_days,
         |  CAST(datediff(last_day, first_day) + 1 AS BIGINT) AS span_days,
         |  coalesce(pv, 0.0) AS purchase_value,
         |  round(CAST(n_events AS DOUBLE)
         |    / CAST(datediff(last_day, first_day) + 1 AS DOUBLE), 6)
         |    AS events_per_day
         |FROM f CROSS JOIN mx ORDER BY user_id""".stripMargin,

    "sample_split" ->
      """WITH g AS (
        |  SELECT doc_id, size(split(text, ' ')) AS n_tok,
        |    CASE md5_48('split:' || CAST(doc_id AS STRING)) % 100
        |      WHEN 0 THEN 'val' WHEN 1 THEN 'test' ELSE 'train' END AS split
        |  FROM documents)
        |SELECT split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM g GROUP BY split ORDER BY split""".stripMargin,

    // --------------------------------------- round-4 additions (this file)
    "text_pack" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(size(split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, n_tok,
        |    COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT lang, CAST(floor(cum_before / 2048.0) AS BIGINT) AS seq,
        |  COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens, MIN(doc_id) AS first_doc,
        |  round(SUM(n_tok) / CAST(2048.0 AS DOUBLE), 4) AS fill_ratio
        |FROM c GROUP BY lang, CAST(floor(cum_before / 2048.0) AS BIGINT)
        |ORDER BY lang, seq""".stripMargin,

    "text_chunk" ->
      """WITH tok AS (
        |  SELECT doc_id, split(text, ' ') AS l FROM documents),
        |c AS (
        |  SELECT doc_id, l, CAST(size(l) AS BIGINT) AS n_tok,
        |    explode(sequence(CAST(0 AS BIGINT), greatest(CAST(1 AS BIGINT),
        |      CAST(floor((size(l) - 17) / 48.0) AS BIGINT) + 1) - 1))
        |      AS chunk_idx
        |  FROM tok)
        |SELECT doc_id, chunk_idx, chunk_idx * 48 AS chunk_start,
        |  least(CAST(64 AS BIGINT), n_tok - chunk_idx * 48) AS chunk_len,
        |  md5(array_join(slice(l, CAST(chunk_idx * 48 + 1 AS INT),
        |    CAST(least(CAST(64 AS BIGINT), n_tok - chunk_idx * 48) AS INT)),
        |    ' ')) AS chunk_hash
        |FROM c
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "text_bpe_pairs" ->
      """WITH tok AS (
        |  SELECT split(text, ' ') AS l FROM documents
        |  WHERE size(split(text, ' ')) >= 2),
        |p AS (
        |  SELECT explode(transform(sequence(1, size(l) - 1),
        |    i -> concat_ws(' ', element_at(l, i), element_at(l, i + 1))))
        |    AS pair
        |  FROM tok)
        |SELECT pair, count(*) AS pair_count
        |FROM p GROUP BY pair
        |ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin,

    "text_mixture" ->
      """WITH counts AS (
        |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |rates AS (
        |  SELECT lang, n_docs,
        |    ((SELECT min(n_docs) FROM counts) * 10000) DIV n_docs AS rate_bp
        |  FROM counts)
        |SELECT lang, n_docs, rate_bp, count(*) AS n_kept
        |FROM documents JOIN rates USING (lang)
        |WHERE md5_48(CAST(doc_id AS STRING)) % 10000 < rate_bp
        |GROUP BY lang, n_docs, rate_bp
        |ORDER BY lang""".stripMargin,

    // the composed pipeline as one statement: normalize → gate → exact
    // dedup → near-dedup (semantic quadratic form — same rows as the
    // prefix-filtered DataFrame plan) → pack
    "pipeline_e2e" ->
      s"""WITH $corpusSql,
         |norm AS (SELECT doc_id,
         |    regexp_replace(lower(trim(text)), '\\\\s+', ' ') AS ntext
         |  FROM corpus),
         |gated AS (SELECT doc_id, ntext,
         |    CAST(size(split(ntext, ' ')) AS BIGINT) AS n_tok
         |  FROM norm WHERE size(split(ntext, ' ')) >= 15),
         |exact AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(ntext)),
         |kept AS (SELECT g.doc_id, g.ntext, g.n_tok
         |  FROM gated g JOIN exact e USING (doc_id)),
         |ktok AS (SELECT doc_id, split(ntext, ' ') l FROM kept),
         |ksets AS (SELECT doc_id, array_distinct($shingles) sset
         |  FROM ktok WHERE size(l) >= 3),
         |drops AS (SELECT DISTINCT sa.doc_id
         |  FROM ksets sa JOIN ksets sb
         |    ON sa.doc_id % 252000 >= 200000 AND sb.doc_id % 252000 < 200000
         |  WHERE $jaccSql >= 0.7),
         |surv AS (SELECT k.doc_id, k.n_tok FROM kept k
         |  LEFT ANTI JOIN drops dr ON k.doc_id = dr.doc_id),
         |packed AS (SELECT s.doc_id, s.n_tok, doc.lang,
         |    COALESCE(SUM(s.n_tok) OVER (PARTITION BY doc.lang ORDER BY s.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM surv s JOIN documents doc ON doc.doc_id = s.doc_id - 100000 * CAST(FLOOR(CAST(s.doc_id % 252000 AS DOUBLE) / 100000.0) AS BIGINT))
         |SELECT lang, CAST(floor(cum_before / 1024.0) AS BIGINT) AS seq,
         |  COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens, MIN(doc_id) AS first_doc,
         |  round(SUM(n_tok) / CAST(1024.0 AS DOUBLE), 4) AS fill_ratio
         |FROM packed GROUP BY lang, CAST(floor(cum_before / 1024.0) AS BIGINT)
         |ORDER BY lang, seq""".stripMargin,

    // Spark dialect: datediff(end, start) + DIV for the integer week age
    "agg_decay" ->
      """WITH mx AS (SELECT date_trunc('DAY', max(ts)) AS d1 FROM events),
        |e AS (
        |  SELECT user_id, value,
        |    CAST(datediff((SELECT d1 FROM mx), date_trunc('DAY', ts))
        |      AS BIGINT) DIV 7 AS w
        |  FROM events)
        |SELECT user_id,
        |  CAST(ROUND(SUM(CAST(value * pow(CAST(0.5 AS DOUBLE), w)
        |    AS DECIMAL(20,8))), 2) AS DOUBLE) AS decayed_value,
        |  COUNT(*) AS n_events
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Spark dialect (`DIV` where the DuckDB oracle spells `//`); the same
    // two unrolled exact-integer power iterations as the DataFrame loop
    "graph_pagerank" ->
      """WITH e0 AS (
        |  SELECT user_id, event_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type
        |  FROM events),
        |edges AS (
        |  SELECT from_type, event_type AS to_type, COUNT(*) AS w
        |  FROM e0 WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |nodes AS (
        |  SELECT from_type AS t FROM edges UNION SELECT to_type FROM edges),
        |outw AS (SELECT from_type, SUM(w) AS ow FROM edges GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM nodes),
        |r0 AS (SELECT t, 1000000 DIV (SELECT nn FROM n) AS r FROM nodes),
        |c1 AS (SELECT e.to_type AS t, SUM((r0.r * e.w) DIV o.ow) AS c
        |       FROM edges e JOIN r0 ON e.from_type = r0.t
        |       JOIN outw o ON e.from_type = o.from_type GROUP BY 1),
        |r1 AS (SELECT nodes.t,
        |         150000 DIV (SELECT nn FROM n)
        |           + (85 * COALESCE(c1.c, 0)) DIV 100 AS r
        |       FROM nodes LEFT JOIN c1 ON nodes.t = c1.t),
        |c2 AS (SELECT e.to_type AS t, SUM((r1.r * e.w) DIV o.ow) AS c
        |       FROM edges e JOIN r1 ON e.from_type = r1.t
        |       JOIN outw o ON e.from_type = o.from_type GROUP BY 1),
        |r2 AS (SELECT nodes.t,
        |         150000 DIV (SELECT nn FROM n)
        |           + (85 * COALESCE(c2.c, 0)) DIV 100 AS r
        |       FROM nodes LEFT JOIN c2 ON nodes.t = c2.t)
        |SELECT t AS event_type, CAST(r AS BIGINT) AS rank_micro
        |FROM r2 ORDER BY rank_micro DESC, event_type""".stripMargin,

    // Spark dialect (the DuckDB oracle spells duration via date_diff)
    "events_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_new
        |  FROM events WHERE user_id % 5 = 0
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT user_id, ts,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM marked)
        |SELECT user_id, session_no, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  CAST(MAX(ts) AS LONG) - CAST(MIN(ts) AS LONG) AS duration_sec
        |FROM numbered GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,

    // nearest as-of: the oracle's date_diff('microsecond') distance
    // becomes an interval compare (timestamp subtraction) in Spark
    "join_asof_near" ->
      """SELECT event_id, user_id, click_id AS near_click_id,
        |  click_value AS asof_value
        |FROM (
        |  SELECT p.event_id, p.user_id, c.event_id AS click_id,
        |    c.value AS click_value,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY
        |      CASE WHEN c.ts <= p.ts THEN p.ts - c.ts ELSE c.ts - p.ts END,
        |      CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END,
        |      CASE WHEN c.ts <= p.ts THEN -c.event_id ELSE c.event_id END)
        |      AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON c.user_id = p.user_id)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // int8 min-max quantization: posexplode is the Spark spelling of the
    // oracle's zipped parallel unnests
    "embed_quantize" ->
      """WITH ex AS (
        |  SELECT vec_id, label, dim, CAST(xf AS DOUBLE) AS x
        |  FROM embeddings
        |  LATERAL VIEW posexplode(embedding) t AS dim, xf),
        |stats AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY dim),
        |codes AS (
        |  SELECT vec_id, label,
        |    CASE WHEN mx > mn THEN
        |      CAST(least(CAST(255 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
        |        floor((x - mn) * CAST(255 AS DOUBLE) / (mx - mn)))) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS code
        |  FROM ex JOIN stats USING (dim))
        |SELECT label, COUNT(DISTINCT vec_id) AS n_vecs,
        |  SUM(code) AS sum_codes,
        |  MIN(code) AS min_code, MAX(code) AS max_code
        |FROM codes GROUP BY label ORDER BY label""".stripMargin,

    // statement form of the binaryFile round trip: like mm_batch_stats,
    // the write+readback is proven lossless by the oracle, so the SQL
    // text IS the recomputation from the catalog table
    "source_binary" ->
      s"""SELECT doc_id, CAST(16 AS BIGINT) AS length,
         |  aggregate($mediaPx, CAST(0 AS BIGINT), (a, x) -> a + x) AS px_sum
         |FROM documents WHERE doc_id % 100 = 0
         |ORDER BY doc_id""".stripMargin,

    // Lloyd's k-means, 2 unrolled iterations in exact integer micro-units
    // (the statement form of LlmPipeline.clusterKmeans — same seeds, same
    // argmin tie-break, same half-up integer centroid rounding)
    "cluster_kmeans" ->
      """WITH q AS (
        |  SELECT vec_id, pos + 1 AS dim,
        |    CAST(round(CAST(col AS DOUBLE) * 1e6, 0) AS BIGINT) AS v
        |  FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, col),
        |seeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4),
        |c0 AS (SELECT q.vec_id AS cluster, dim, v AS c
        |       FROM q JOIN seeds USING (vec_id)),
        |d1 AS (SELECT q.vec_id, c0.cluster,
        |         SUM((q.v - c0.c) * (q.v - c0.c)) AS d2
        |       FROM q JOIN c0 ON q.dim = c0.dim GROUP BY q.vec_id, c0.cluster),
        |a1 AS (SELECT vec_id, cluster FROM (
        |         SELECT vec_id, cluster, ROW_NUMBER() OVER (
        |           PARTITION BY vec_id ORDER BY d2, cluster) AS rn FROM d1)
        |       WHERE rn = 1),
        |c1 AS (SELECT a1.cluster, q.dim,
        |         CAST(floor(CAST(2 * SUM(q.v) + COUNT(*) AS DOUBLE)
        |           / CAST(2 * COUNT(*) AS DOUBLE)) AS BIGINT) AS c
        |       FROM q JOIN a1 USING (vec_id) GROUP BY a1.cluster, q.dim),
        |d2_ AS (SELECT q.vec_id, c1.cluster,
        |          SUM((q.v - c1.c) * (q.v - c1.c)) AS d2
        |        FROM q JOIN c1 ON q.dim = c1.dim GROUP BY q.vec_id, c1.cluster),
        |a2 AS (SELECT vec_id, cluster FROM (
        |         SELECT vec_id, cluster, ROW_NUMBER() OVER (
        |           PARTITION BY vec_id ORDER BY d2, cluster) AS rn FROM d2_)
        |       WHERE rn = 1)
        |SELECT cluster, COUNT(*) AS n_vecs, MIN(vec_id) AS rep_vec_id
        |FROM a2 GROUP BY cluster ORDER BY cluster""".stripMargin,

    // ------------------------------------------------- round-7b insights
    // portable rank order via the native md5_48 (the DuckDB oracle spells
    // the same 48-bit value as a hex-prefix cast)
    "sample_balanced" ->
      """SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5_48('bal:' || CAST(doc_id AS STRING)), doc_id) AS rk
        |  FROM documents) t WHERE rk <= 40 ORDER BY lang, rk""".stripMargin,

    // descending cumulative via the grid triangle join — the catalog text
    // obeys the same no-global-window rule as the DataFrame plan
    "events_ccdf" ->
      """WITH u AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
        |tot AS (SELECT COUNT(*) AS nu FROM u),
        |g AS (SELECT n - n % 5 AS min_events, COUNT(*) AS c FROM u GROUP BY 1),
        |cum AS (SELECT g.min_events, SUM(h.c) AS n_users_ge
        |  FROM g JOIN g h ON h.min_events >= g.min_events
        |  GROUP BY g.min_events)
        |SELECT CAST(cum.min_events AS BIGINT) AS min_events,
        |  CAST(cum.n_users_ge AS BIGINT) AS n_users_ge,
        |  CAST(round(CAST(cum.n_users_ge AS DOUBLE)
        |    / CAST(tot.nu AS DOUBLE), 6) AS DOUBLE) AS share
        |FROM cum CROSS JOIN tot ORDER BY min_events""".stripMargin,

    "text_blocklist" ->
      """WITH f AS (SELECT source,
        |  CAST(size(filter(split(text, ' '),
        |    x -> array_contains(array('slow','dup','big'), x))) AS DOUBLE)
        |    / CAST(size(split(text, ' ')) AS DOUBLE) AS dens
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN dens >= 0.12 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(round(CAST(SUM(CASE WHEN dens >= 0.12 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS flag_rate
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    "text_contrastive_pairs" ->
      """WITH p AS (SELECT doc_id, split(text, ' ') AS parts FROM documents),
        |g AS (SELECT doc_id, parts, CAST(size(parts) / 16 AS INT) AS n_chunks
        |      FROM p WHERE size(parts) >= 32)
        |SELECT doc_id, CAST(i AS BIGINT) AS pair_idx,
        |  concat_ws(' ', slice(parts, i * 16 + 1, 16)) AS anchor,
        |  concat_ws(' ', slice(parts, i * 16 + 17, 16)) AS positive
        |FROM g LATERAL VIEW explode(sequence(0, n_chunks - 2)) t AS i
        |ORDER BY doc_id, pair_idx""".stripMargin,

    "events_gaps" ->
      """WITH g AS (SELECT user_id,
        |  unix_timestamp(ts) - lag(unix_timestamp(ts))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events)
        |SELECT user_id, COUNT(gap) AS n_gaps, CAST(MAX(gap) AS BIGINT) AS max_gap_s,
        |  CAST(round(CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(gap) AS DOUBLE), 6) AS DOUBLE) AS avg_gap_s
        |FROM g WHERE gap IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin,

    "text_novelty" ->
      """WITH t AS (SELECT doc_id, split(text, ' ') AS l FROM documents
        |           WHERE size(split(text, ' ')) >= 2),
        |g AS (SELECT DISTINCT doc_id,
        |  md5_48(concat_ws(' ', slice(l, i, 2))) AS gh
        |  FROM t LATERAL VIEW explode(sequence(1, size(l) - 1)) s AS i),
        |fo AS (SELECT gh, MIN(doc_id) AS fd FROM g GROUP BY gh)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN fo.fd = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(round(CAST(SUM(CASE WHEN fo.fd = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS novelty
        |FROM g JOIN fo USING (gh) GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    "sim_hard_negatives" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    sqrt(float_dot(embedding, embedding)) AS norm
        |  FROM embeddings),
        |s AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |    round(float_dot(p.embedding, c.embedding) / (p.norm * c.norm), 6) AS cos
        |  FROM e p JOIN e c ON p.vec_id % 50 = 23 AND c.vec_id <> p.vec_id),
        |b AS (SELECT probe_id, cand_id, cos,
        |  ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rnk
        |  FROM s WHERE cos >= 0.05 AND cos < 0.2)
        |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos
        |FROM b WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    "sim_radius" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    sqrt(float_dot(embedding, embedding)) AS norm
        |  FROM embeddings),
        |s AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |    round(float_dot(p.embedding, c.embedding) / (p.norm * c.norm), 6) AS cos
        |  FROM e p JOIN e c ON p.vec_id % 50 = 7 AND c.vec_id <> p.vec_id)
        |SELECT probe_id, cand_id, cos FROM s WHERE cos >= 0.2
        |ORDER BY probe_id, cos DESC, cand_id""".stripMargin,

    // ------------------------------------------------- round-7c curation
    // repeated 8-gram spans: df over distinct docs, island-merge per doc
    "dedup_substring" ->
      s"""WITH $corpusSql,
         |tok AS (SELECT doc_id, split(text, ' ') AS l FROM corpus
         |        WHERE size(split(text, ' ')) >= 8),
         |g AS (SELECT doc_id, size(l) AS n_toks, i,
         |    md5_48(concat_ws(' ', slice(l, i, 8))) AS gh
         |  FROM tok LATERAL VIEW explode(sequence(1, size(l) - 7)) s AS i),
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
         |spans AS (SELECT doc_id, n_toks, isl_id, MIN(i) AS st, MAX(e) AS en
         |  FROM grp GROUP BY doc_id, n_toks, isl_id)
         |SELECT doc_id, COUNT(*) AS n_spans,
         |  CAST(SUM(en - st + 1) AS BIGINT) AS covered_tokens,
         |  CAST(round(CAST(SUM(en - st + 1) AS DOUBLE)
         |    / CAST(n_toks AS DOUBLE), 6) AS DOUBLE) AS covered_frac
         |FROM spans GROUP BY doc_id, n_toks ORDER BY doc_id""".stripMargin,

    // containment in its semantic (quadratic) form — identical rows to the
    // prefix-filtered containmentJoin plan (the dedup_near discipline)
    "dedup_containment" ->
      s"""WITH $corpusSql,
         |$shingleSetsSql
         |SELECT var_id, base_id, round(cont, 6) AS cont FROM (
         |  SELECT sa.doc_id AS var_id, sb.doc_id AS base_id,
         |    CAST(size(array_intersect(sa.sset, sb.sset)) AS DOUBLE)
         |      / CAST(size(sa.sset) AS DOUBLE) AS cont
         |  FROM ssets sa JOIN ssets sb
         |    ON sa.doc_id % 252000 >= 200000 AND sb.doc_id % 252000 < 200000)
         |WHERE cont >= 0.9
         |ORDER BY var_id, base_id""".stripMargin,

    // non-overlapping 8-token segments over the planted-header corpus
    "text_boilerplate" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000, source,
         |    concat('${graft.ops.Curation.BoilerHeader} ', text)
         |  FROM documents WHERE doc_id % 5 = 0),
         |tok AS (SELECT doc_id, source, split(text, ' ') AS l FROM corpus
         |        WHERE size(split(text, ' ')) >= 8),
         |segs AS (SELECT doc_id, source,
         |    md5_48(concat_ws(' ', slice(l, k * 8 + 1, 8))) AS sh
         |  FROM tok LATERAL VIEW explode(sequence(0,
         |    CAST(floor(CAST(size(l) AS DOUBLE) / 8) AS INT) - 1)) s AS k),
         |dfc AS (SELECT sh, COUNT(DISTINCT doc_id) AS dfd FROM segs GROUP BY sh)
         |SELECT source, COUNT(*) AS n_segs,
         |  CAST(SUM(CASE WHEN dfd >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |  CAST(round(CAST(SUM(CASE WHEN dfd >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS boiler_rate
         |FROM segs JOIN dfc USING (sh) GROUP BY source ORDER BY source""".stripMargin,

    // top-50 per language; ln-moments as exact decimals (agg_entropy rule)
    "text_zipf" ->
      """WITH tc AS (SELECT lang, term, COUNT(*) AS cnt
        |  FROM (SELECT lang, explode(split(text, ' ')) AS term FROM documents) t
        |  GROUP BY lang, term),
        |top AS (SELECT lang, cnt, rk FROM (
        |    SELECT lang, cnt,
        |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rk
        |    FROM tc) q WHERE rk <= 50),
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

    // micro-unit cohort sums; cleared-denominator decimal distance
    "embed_drift" ->
      """WITH q AS (
        |  SELECT vec_id, label, vec_id % 2 = 0 AS cohort_a, dim,
        |    CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS qd
        |  FROM (SELECT vec_id, label, posexplode(embedding) AS (dim, x)
        |        FROM embeddings)),
        |sums AS (SELECT label, dim,
        |    SUM(CASE WHEN cohort_a THEN qd ELSE 0L END) AS sa,
        |    SUM(CASE WHEN NOT cohort_a THEN qd ELSE 0L END) AS sb,
        |    SUM(CASE WHEN cohort_a THEN 1L ELSE 0L END) AS na,
        |    SUM(CASE WHEN NOT cohort_a THEN 1L ELSE 0L END) AS nb
        |  FROM q GROUP BY label, dim),
        |agg AS (SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
        |    SUM(CAST(sa * nb - sb * na AS DECIMAL(18,0))
        |      * CAST(sa * nb - sb * na AS DECIMAL(18,0))) AS d2
        |  FROM sums GROUP BY label)
        |SELECT label, n_a, n_b,
        |  CAST(round(sqrt(CAST(d2 AS DOUBLE))
        |    / CAST(n_a * n_b * 1000000 AS DOUBLE), 6) AS DOUBLE) AS centroid_dist
        |FROM agg ORDER BY label""".stripMargin,

    // symbol density + keyword hits (Spark regexp: replace-all is default)
    "text_code_detect" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 400000,
        |    concat('def fn_', doc_id, '(x): y = x * ', doc_id % 7,
        |      ' ; return y # auto import os ; print(y)')
        |  FROM documents WHERE doc_id % 6 = 0),
        |scored AS (SELECT doc_id,
        |    CAST(round(CAST(length(text)
        |        - length(regexp_replace(text, '[(){}\\[\\]=;:#*]', '')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE), 6) AS DOUBLE) AS sym_density,
        |    CAST(size(regexp_extract_all(text,
        |      '\\b(def|import|return|print)\\b', 0)) AS BIGINT) AS kw_hits
        |  FROM corpus)
        |SELECT doc_id, sym_density, kw_hits FROM scored
        |WHERE sym_density >= 0.04 OR kw_hits >= 2 ORDER BY doc_id""".stripMargin,

    // T=0.7 weights; exact decimal weight sum; md5-48 hash-gate order
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
        |      ORDER BY md5_48(concat('temp:', CAST(doc_id AS STRING))), doc_id)
        |      AS BIGINT) AS rk
        |  FROM documents)
        |SELECT r.doc_id, r.lang, r.rk, t.target
        |FROM ranked r JOIN tgt t ON r.lang = t.lang
        |WHERE r.rk <= t.target ORDER BY r.lang, r.rk""".stripMargin,
  )

  /** Spark-dialect text for the keys whose oracle text cannot run in
    * Spark, does not return the DataFrame path's exact rows or plans a
    * partition-less window, plus the approximate-sketch keys that have no
    * oracle text. */
  private[graft] val sparkOverrides: Map[String, String] =
    sparkDialect +
      // the persisted-index probes' statement-level contract IS the
      // in-flight IVF routing (results pinned identical); the index
      // write/append itself is the DataFrame path's storage concern
      ("sim_index_persist" -> sparkDialect("sim_topk_ivf")) +
      ("sim_index_delta" -> sparkDialect("sim_topk_ivf"))

  /** SQL text per declared query key, runnable via [[sql]]: the key's
    * oracle text ([[SparkEntry.oracleSql]]) unless [[sparkOverrides]] has
    * one. Script keys ([[queriesScript]]) and `meta_vacuum` have none. */
  lazy val queriesSql: Map[String, String] =
    (SparkEntry.oracleSql -- queriesScript.keys - "meta_vacuum") ++
      sparkOverrides

  /** Run a declared query from SQL text against the catalog views. */
  def sql(name: String)(spark: SparkSession, sfDir: String): DataFrame = {
    require(queriesSql.contains(name), s"no SQL entry for query: $name")
    registerViews(spark, sfDir)
    spark.sql(queriesSql(name))
  }

  // --------------------------------------------- multi-statement scripts

  private def ioDir(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_io/${name}_sql"

  /** Per-JVM unique suffix for script-created MANAGED tables: within a
    * session the script's DROP TABLE IF EXISTS deletes both catalog entry
    * and files; across sessions the fresh catalog no longer knows the old
    * table, so a fixed name would hit LOCATION_ALREADY_EXISTS on the
    * orphaned warehouse dir — a unique name sidesteps it. */
  private val scriptTag: String = java.lang.Long.toHexString(System.nanoTime())
  private val sinkPartTable = s"graft_sink_partitioned_$scriptTag"
  private val bktLiTable = s"graft_li_bkt_sql_$scriptTag"
  private val bktOTable = s"graft_o_bkt_sql_$scriptTag"

  // ------------------------------- connected components as a statement script

  /** Bounded-round connected components as pure SQL statements (VERDICT
    * r10 #3). Input: a statement that wrote symmetrized edges (x, y) to
    * `cc_<tag>_edges`. Each round materializes the label table after one
    * neighbor-min propagation + one pointer-doubling hop — the exact
    * per-round algebra of [[graft.api.TextDedup.connectedComponents]],
    * with INSERT OVERWRITE DIRECTORY as the statement-level analogue of
    * the DataFrame loop's checkpoint barrier (materializing each round is
    * also what keeps the plan LINEAR in rounds: the doubling step
    * references the propagated labels twice, so chained temp VIEWS would
    * re-expand the upstream plan 2^rounds times under inlining — the same
    * exponential-CTE lesson as sample_kcenter's oracle).
    *
    * Round budget: doubling halves the remaining pointer depth while the
    * neighbor-min hop extends coverage, so `rounds` rounds converge for
    * any component of diameter ≲ 2^rounds. The script is the STATEMENT
    * CONTRACT at test scale (SqlEntrySpec pins script ≡ DataFrame at
    * sf0.001, where the planted variant⇆base graph has star-shaped
    * components of diameter ≤ ~4); the DataFrame loop remains the
    * production plan — it detects convergence via the label-sum invariant
    * and throws rather than return unconverged labels. */
  private def ccLblDir(tag: String, r: Int): String = ioDir(s"cc_${tag}_lbl$r")

  private def ccRoundStatements(tag: String, rounds: Int): Seq[String] = {
    val edges = ioDir(s"cc_${tag}_edges")
    val init =
      s"""INSERT OVERWRITE DIRECTORY '${ccLblDir(tag, 0)}' USING parquet
         |SELECT DISTINCT x AS id, x AS component FROM parquet.`$edges`""".stripMargin
    val steps = (1 to rounds).map { r =>
      // one round = neighbor-min then pointer doubling; `prop` is inlined
      // twice, each copy a cheap re-read of the materialized previous round
      val prop =
        s"""SELECT l.id,
           |      least(l.component, coalesce(m.nmin, l.component)) AS component
           |    FROM parquet.`${ccLblDir(tag, r - 1)}` l LEFT JOIN (
           |      SELECT e.x AS id, min(ly.component) AS nmin
           |      FROM parquet.`$edges` e
           |      JOIN parquet.`${ccLblDir(tag, r - 1)}` ly ON e.y = ly.id
           |      GROUP BY e.x) m ON l.id = m.id""".stripMargin
      s"""INSERT OVERWRITE DIRECTORY '${ccLblDir(tag, r)}' USING parquet
         |SELECT p.id, coalesce(pp.component, p.component) AS component
         |FROM ($prop) p LEFT JOIN ($prop) pp ON p.component = pp.id""".stripMargin
    }
    init +: steps
  }

  /** Rounds for the planted-corpus graphs: star-shaped components around
    * base docs (diameter ≤ ~4); 6 doubling rounds cover diameter ~2^6. */
  private val CcRounds = 6

  /** Symmetrized near-dup candidate edges (the dedup_cluster pair graph)
    * → `cc_jacc_edges`: the exact-Jaccard threshold join of the planted
    * corpus, variants × base — the same pairs as [[dedupNearSql]]. */
  private val jaccEdgesStmt: String =
    s"""INSERT OVERWRITE DIRECTORY '${ioDir("cc_jacc_edges")}' USING parquet
       |WITH $corpusSql,
       |$shingleSetsSql,
       |pairs AS (
       |  SELECT sa.doc_id AS a, sb.doc_id AS b
       |  FROM ssets sa JOIN ssets sb
       |    ON sa.doc_id % 252000 >= 200000 AND sb.doc_id % 252000 < 200000
       |  WHERE $jaccSql >= 0.7)
       |SELECT a AS x, b AS y FROM pairs UNION SELECT b AS x, a AS y FROM pairs""".stripMargin

  /** Symmetrized semantic kNN edges (cosine ≥ 0.999 over the IVF-blocked
    * kNN graph — the statement form of [[graft.api.VectorSearch.knnJoin]]
    * with k=3, nprobe=3) → `cc_sem_edges`. */
  private val semEdgesStmt: String =
    s"""INSERT OVERWRITE DIRECTORY '${ioDir("cc_sem_edges")}' USING parquet
       |WITH $vecCorpusSql,
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cent
       |  FROM embeddings WHERE vec_id % 50 = 0),
       |ranked_cells AS (
       |  SELECT vec_id, embedding, cell, crnk FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${cosFd("e.embedding", "c.cent")}, 6) DESC,
       |          c.cent_id) AS crnk
       |    FROM vcorpus e CROSS JOIN cents c)
       |  WHERE crnk <= 3),
       |cells AS (SELECT vec_id AS cand_id, embedding AS ce, cell
       |          FROM ranked_cells WHERE crnk = 1),
       |probes AS (SELECT vec_id AS probe_id, embedding AS pe, cell
       |           FROM ranked_cells),
       |scored AS (
       |  SELECT p.probe_id, s.cand_id,
       |    round(${cosFd("p.pe", "s.ce")}, 6) AS cos
       |  FROM probes p JOIN cells s ON p.cell = s.cell
       |  WHERE s.cand_id <> p.probe_id),
       |knn AS (
       |  SELECT probe_id, cand_id FROM (
       |    SELECT probe_id, cand_id, cos,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY cos DESC, cand_id) AS rnk
       |    FROM scored)
       |  WHERE rnk <= 3 AND cos >= 0.999)
       |SELECT probe_id AS x, cand_id AS y FROM knn
       |UNION SELECT cand_id AS x, probe_id AS y FROM knn""".stripMargin

  private val jaccCcStmts: Seq[String] =
    jaccEdgesStmt +: ccRoundStatements("jacc", CcRounds)
  private val semCcStmts: Seq[String] =
    semEdgesStmt +: ccRoundStatements("sem", CcRounds)
  private val jaccLblFinal = ccLblDir("jacc", CcRounds)
  private val semLblFinal = ccLblDir("sem", CcRounds)

  /** Statement SCRIPTS for the declared queries whose semantics include a
    * write: each entry is an ordered statement sequence (the reference
    * REPL's interface, `db.cpp:549-598`) whose last statement produces the
    * declared result. Runnable via [[runScript]]; SqlEntrySpec asserts
    * script ≡ DataFrame row-for-row. */
  val queriesScript: Map[String, Seq[String]] = Map(
    // connected-components keys (VERDICT r10 #3): shared edge build +
    // bounded label rounds, then each key's own readback aggregate
    "dedup_cluster" -> (jaccCcStmts :+
      s"""SELECT id AS doc_id, component AS cluster_root
         |FROM parquet.`$jaccLblFinal` ORDER BY doc_id""".stripMargin),

    "dedup_report" -> (jaccCcStmts :+
      s"""WITH $corpusSql,
         |sizes AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
         |          FROM corpus),
         |j AS (SELECT l.id AS doc_id, l.component AS cluster_root, s.n_chars
         |      FROM parquet.`$jaccLblFinal` l JOIN sizes s ON l.id = s.doc_id)
         |SELECT cluster_root, COUNT(*) AS n_docs,
         |  COUNT(*) - 1L AS n_dropped,
         |  SUM(CASE WHEN doc_id <> cluster_root THEN n_chars ELSE 0L END)
         |    AS bytes_dropped,
         |  SUM(n_chars) AS bytes_total,
         |  round(CAST(SUM(CASE WHEN doc_id <> cluster_root THEN n_chars
         |                 ELSE 0L END) AS DOUBLE)
         |    / CAST(SUM(n_chars) AS DOUBLE), 6) AS savings_pct
         |FROM j GROUP BY cluster_root ORDER BY cluster_root""".stripMargin),

    "dedup_downweight" -> (jaccCcStmts :+
      s"""WITH sizes AS (SELECT component, COUNT(*) AS csize
         |               FROM parquet.`$jaccLblFinal` GROUP BY component)
         |SELECT l.id AS doc_id, l.component AS cluster_root, s.csize,
         |  round(CAST(1.0 AS DOUBLE) / CAST(s.csize AS DOUBLE), 6) AS weight,
         |  (l.id = l.component) AS is_rep
         |FROM parquet.`$jaccLblFinal` l
         |JOIN sizes s ON l.component = s.component
         |ORDER BY doc_id""".stripMargin),

    "dedup_semantic" -> (semCcStmts :+
      s"""SELECT id AS vec_id, component AS cluster_root,
         |  (id = component) AS is_rep
         |FROM parquet.`$semLblFinal` ORDER BY vec_id""".stripMargin),

    "merge_idempotent" -> Seq(
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("merge_idempotent_base")}'
         |USING parquet
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         |FROM orders WHERE o_orderkey % 3 != 0""".stripMargin,
      // one-statement apply: dedup the at-least-once batch on its key,
      // anti-join away keys the base already holds, append to the base
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("merge_idempotent")}'
         |USING parquet
         |SELECT * FROM parquet.`${ioDir("merge_idempotent_base")}`
         |UNION ALL
         |SELECT d.o_orderkey, d.r.o_custkey AS o_custkey,
         |  d.r.o_orderstatus AS o_orderstatus, d.r.o_totalprice AS o_totalprice
         |FROM (
         |  SELECT o_orderkey,
         |    min(struct(o_custkey, o_orderstatus, o_totalprice)) AS r
         |  FROM (
         |    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         |    FROM orders WHERE o_orderkey % 3 = 0
         |    UNION ALL
         |    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         |    FROM orders WHERE o_orderkey % 3 = 0
         |    UNION ALL
         |    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         |    FROM orders WHERE o_orderkey % 3 != 0 AND o_orderkey % 5 = 1)
         |  GROUP BY o_orderkey) d
         |LEFT ANTI JOIN parquet.`${ioDir("merge_idempotent_base")}` b
         |  ON d.o_orderkey = b.o_orderkey""".stripMargin,
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${dsumSql("o_totalprice")} AS sum_price,
         |  COUNT(DISTINCT o_orderkey) AS n_keys
         |FROM parquet.`${ioDir("merge_idempotent")}`
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    "sink_roundtrip" -> Seq(
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("sink_roundtrip")}' USING parquet
         |SELECT * FROM lineitem WHERE l_orderkey % 97 = 0""".stripMargin,
      s"""SELECT l_returnflag, COUNT(*) AS n,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_price
         |FROM parquet.`${ioDir("sink_roundtrip")}`
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    "key_lookup_sorted" -> Seq(
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("key_lookup_sorted")}' USING parquet
         |SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
         |  l_extendedprice
         |FROM parquet.`${ioDir("key_lookup_sorted")}`
         |WHERE l_orderkey = 42 ORDER BY l_linenumber""".stripMargin),

    "source_csv" -> Seq(
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("source_csv")}'
         |USING csv OPTIONS (header 'true')
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |  date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS o_odate
         |FROM orders WHERE o_orderkey % 50 = 0""".stripMargin,
      s"""CREATE OR REPLACE TEMPORARY VIEW graft_source_csv_back
         |  (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
         |   o_totalprice DOUBLE, o_odate STRING)
         |USING csv OPTIONS (path '${ioDir("source_csv")}', header 'true')""".stripMargin,
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  round(o_totalprice, 2) AS o_totalprice,
        |  to_timestamp(o_odate, 'yyyy-MM-dd HH:mm:ss') AS o_orderdate
        |FROM graft_source_csv_back ORDER BY o_orderkey""".stripMargin),

    "source_xml" -> Seq(
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("source_xml")}'
         |USING xml OPTIONS (rootTag 'orders', rowTag 'order')
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |  date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS o_odate
         |FROM orders WHERE o_orderkey % 50 = 0""".stripMargin,
      s"""CREATE OR REPLACE TEMPORARY VIEW graft_source_xml_back
         |  (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
         |   o_totalprice DOUBLE, o_odate STRING)
         |USING xml OPTIONS (path '${ioDir("source_xml")}', rowTag 'order')""".stripMargin,
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  round(o_totalprice, 2) AS o_totalprice,
        |  to_timestamp(o_odate, 'yyyy-MM-dd HH:mm:ss') AS o_orderdate
        |FROM graft_source_xml_back ORDER BY o_orderkey""".stripMargin),

    "source_text" -> Seq(
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("source_text_sql")}' USING text
         |SELECT concat_ws(chr(1), doc_id, source, text) AS value
         |FROM documents""".stripMargin,
      s"""CREATE OR REPLACE TEMPORARY VIEW graft_source_text_back (value STRING)
         |USING text OPTIONS (path '${ioDir("source_text_sql")}')""".stripMargin,
      """SELECT element_at(split(value, chr(1)), 2) AS source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(length(element_at(split(value, chr(1)), 3))) AS BIGINT)
        |    AS total_chars,
        |  CAST(SUM(md5_48(element_at(split(value, chr(1)), 3))) AS BIGINT)
        |    AS checksum
        |FROM graft_source_text_back GROUP BY 1 ORDER BY 1""".stripMargin),

    "source_json" -> Seq(
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("source_json")}' USING json
         |SELECT event_id, user_id, event_type, value, props,
         |  date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts_str
         |FROM events WHERE event_id % 20 = 0""".stripMargin,
      s"""CREATE OR REPLACE TEMPORARY VIEW graft_source_json_back
         |  (event_id BIGINT, user_id BIGINT, event_type STRING,
         |   value DOUBLE, props STRING, ts_str STRING)
         |USING json OPTIONS (path '${ioDir("source_json")}')""".stripMargin,
      s"""SELECT event_type, COUNT(*) AS n,
         |  ${dsumSql("value")} AS sum_value,
         |  ${dsumSql("CAST(get_json_object(props, '$.k') AS DOUBLE)")} AS sum_k
         |FROM graft_source_json_back
         |GROUP BY event_type ORDER BY event_type""".stripMargin),

    "view_incremental" -> Seq(
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("view_incremental_state_sql")}'
         |USING parquet
         |SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
         |  SUM(CAST(value AS DECIMAL(20,8))) AS sv
         |FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
         |GROUP BY 1, 2""".stripMargin,
      s"""SELECT event_type, day,
         |  (coalesce(n1, CAST(0 AS BIGINT)) + coalesce(n2, CAST(0 AS BIGINT)))
         |    AS n_events,
         |  CAST(round(coalesce(s1, 0) + coalesce(s2, 0), 2) AS DOUBLE)
         |    AS sum_value
         |FROM (SELECT event_type, day, n AS n1, sv AS s1
         |      FROM parquet.`${ioDir("view_incremental_state_sql")}`) st
         |FULL OUTER JOIN (
         |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n2,
         |    SUM(CAST(value AS DECIMAL(20,8))) AS s2
         |  FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
         |  GROUP BY 1, 2) dl
         |USING (event_type, day)
         |ORDER BY event_type, day""".stripMargin),

    "merge_delete" -> Seq(
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("merge_delete_sql")}' USING parquet
         |SELECT e.* FROM events e
         |LEFT ANTI JOIN (SELECT DISTINCT user_id FROM events
         |                WHERE user_id % 17 = 0) t
         |  ON e.user_id = t.user_id""".stripMargin,
      s"""SELECT event_type, COUNT(*) AS n,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  ${dsumSql("value")} AS sum_value
         |FROM parquet.`${ioDir("merge_delete_sql")}`
         |GROUP BY event_type ORDER BY event_type""".stripMargin),

    "sink_bucketed" -> Seq(
      s"DROP TABLE IF EXISTS $bktLiTable",
      s"DROP TABLE IF EXISTS $bktOTable",
      s"""CREATE TABLE $bktLiTable USING parquet
         |CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey) INTO 8 BUCKETS AS
         |SELECT l_orderkey, l_quantity FROM lineitem""".stripMargin,
      s"""CREATE TABLE $bktOTable USING parquet
         |CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey) INTO 8 BUCKETS AS
         |SELECT o_orderkey, o_orderstatus FROM orders""".stripMargin,
      s"""SELECT /*+ MERGE($bktLiTable) */ o_orderstatus,
         |  COUNT(*) AS n_items, ${dsumSql("l_quantity")} AS sum_qty
         |FROM $bktLiTable JOIN $bktOTable ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // CTAS + ANALYZE + readback: the statement interface to the CBO-stats
    // key. The script's result is plan-invariant (that's the point of the
    // key), so the script does NOT toggle cbo.enabled — runScript must
    // leave no session-wide planner conf behind for later scripts; the
    // CBO plan flip itself is pinned in PlanSpec against the DataFrame
    // path. analyzed_rows reads back as COUNT(*) over the analyzed CTAS —
    // equal by construction to the exact rowCount ANALYZE persists.
    "meta_analyze" -> Seq(
      s"DROP TABLE IF EXISTS ${graft.ops.Frontier4.AnOrders}",
      s"DROP TABLE IF EXISTS ${graft.ops.Frontier4.AnCustomer}",
      s"DROP TABLE IF EXISTS ${graft.ops.Frontier4.AnNation}",
      s"""CREATE TABLE ${graft.ops.Frontier4.AnOrders} USING parquet AS
         |SELECT o_orderkey, o_custkey, o_totalprice FROM orders""".stripMargin,
      s"""CREATE TABLE ${graft.ops.Frontier4.AnCustomer} USING parquet AS
         |SELECT c_custkey, c_nationkey FROM customer""".stripMargin,
      s"""CREATE TABLE ${graft.ops.Frontier4.AnNation} USING parquet AS
         |SELECT n_nationkey, n_name, n_regionkey FROM nation""".stripMargin,
      s"ANALYZE TABLE ${graft.ops.Frontier4.AnOrders} COMPUTE STATISTICS FOR ALL COLUMNS",
      s"ANALYZE TABLE ${graft.ops.Frontier4.AnCustomer} COMPUTE STATISTICS FOR ALL COLUMNS",
      s"ANALYZE TABLE ${graft.ops.Frontier4.AnNation} COMPUTE STATISTICS FOR ALL COLUMNS",
      s"""SELECT n_name, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS revenue,
         |  (SELECT COUNT(*) FROM ${graft.ops.Frontier4.AnOrders})
         |    AS analyzed_rows
         |FROM ${graft.ops.Frontier4.AnOrders}
         |JOIN ${graft.ops.Frontier4.AnCustomer} ON o_custkey = c_custkey
         |JOIN ${graft.ops.Frontier4.AnNation}
         |  ON c_nationkey = n_nationkey AND n_regionkey = 1
         |GROUP BY n_name ORDER BY n_name""".stripMargin),

    "sink_partitioned" -> Seq(
      s"DROP TABLE IF EXISTS $sinkPartTable",
      s"""CREATE TABLE $sinkPartTable
         |USING parquet PARTITIONED BY (o_orderpriority) AS
         |SELECT * FROM orders""".stripMargin,
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${dsumSql("o_totalprice")} AS sum_price
         |FROM $sinkPartTable
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    "source_orc" -> Seq(
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("source_orc")}' USING orc
         |SELECT * FROM lineitem WHERE l_orderkey % 89 = 0""".stripMargin,
      s"""SELECT l_linestatus, COUNT(*) AS n,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_discount")} AS sum_disc
         |FROM orc.`${ioDir("source_orc")}`
         |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    "merge_upsert" -> Seq(
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("merge_upsert_base")}' USING parquet
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |  CAST(0 AS BIGINT) AS version
         |FROM orders""".stripMargin,
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("merge_upsert")}' USING parquet
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, version
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
         |    ORDER BY version DESC) AS rn
         |  FROM (
         |    SELECT * FROM parquet.`${ioDir("merge_upsert_base")}`
         |    UNION ALL
         |    SELECT o_orderkey, o_custkey, 'U', o_totalprice + 10.0,
         |      CAST(1 AS BIGINT)
         |    FROM orders WHERE o_orderkey % 37 = 0
         |    UNION ALL
         |    SELECT o_orderkey + 5000000, o_custkey, 'N', o_totalprice,
         |      CAST(1 AS BIGINT)
         |    FROM orders WHERE o_orderkey % 97 = 0))
         |WHERE rn = 1""".stripMargin,
      s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, version
         |FROM parquet.`${ioDir("merge_upsert")}`
         |ORDER BY o_orderkey""".stripMargin),

    // WebDataset pack + read-back loop in statement form: shard assignment
    // and offsets are windows, the shard blob is a bounded binary-concat
    // aggregate, and the readback slices every record out of the written
    // bytes and byte-verifies it (X'' = the empty-binary fold seed)
    "mm_shard_read" -> Seq(
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("mm_shard_read")}/index' USING parquet
         |SELECT doc_id, source, shard_id, coalesce(SUM(bytes) OVER (
         |    PARTITION BY source, shard_id ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS offset,
         |  bytes
         |FROM (
         |  SELECT doc_id, source, bytes,
         |    (SUM(bytes) OVER (PARTITION BY source ORDER BY doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
         |      DIV 16384 AS shard_id
         |  FROM (SELECT doc_id, source, n_chars + 16 AS bytes FROM documents))""".stripMargin,
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("mm_shard_read")}/shards' USING parquet
         |SELECT source, shard_id,
         |  aggregate(sort_array(collect_list(struct(offset, rec))), X'',
         |    (acc, x) -> concat(acc, x.rec)) AS blob
         |FROM (
         |  SELECT source, doc_id, rec,
         |    coalesce(SUM(bytes) OVER (PARTITION BY source, shard_id
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS offset,
         |    shard_id
         |  FROM (
         |    SELECT doc_id, source, bytes,
         |      concat(encode(text, 'UTF-8'), unhex(md5(text))) AS rec,
         |      (SUM(bytes) OVER (PARTITION BY source ORDER BY doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
         |        DIV 16384 AS shard_id
         |    FROM (SELECT doc_id, source, text, n_chars + 16 AS bytes
         |          FROM documents)))
         |GROUP BY source, shard_id""".stripMargin,
      s"""SELECT i.source, i.shard_id, COUNT(*) AS n_docs,
         |  SUM(CASE WHEN decode(substr(b.rec2, 1, CAST(i.bytes - 16 AS INT)),
         |        'UTF-8') = d.text
         |      AND substr(b.rec2, CAST(i.bytes - 15 AS INT), 16)
         |        = unhex(md5(d.text))
         |      THEN 1 ELSE 0 END) AS n_matched,
         |  SUM(i.bytes) AS shard_bytes,
         |  MIN(i.doc_id) AS first_doc, MAX(i.doc_id) AS last_doc
         |FROM parquet.`${ioDir("mm_shard_read")}/index` i
         |JOIN (
         |  SELECT ii.doc_id,
         |    substr(ss.blob, CAST(ii.offset + 1 AS INT),
         |      CAST(ii.bytes AS INT)) AS rec2
         |  FROM parquet.`${ioDir("mm_shard_read")}/index` ii
         |  JOIN parquet.`${ioDir("mm_shard_read")}/shards` ss
         |    ON ii.source = ss.source AND ii.shard_id = ss.shard_id) b
         |  ON i.doc_id = b.doc_id
         |JOIN documents d ON i.doc_id = d.doc_id
         |GROUP BY i.source, i.shard_id
         |ORDER BY i.source, i.shard_id""".stripMargin),

    "source_evolution" -> Seq(
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("source_evolution")}/batch=1' USING parquet
         |SELECT o_orderkey, o_custkey, o_orderstatus
         |FROM orders WHERE o_orderkey % 40 = 0""".stripMargin,
      s"""INSERT OVERWRITE DIRECTORY '${ioDir("source_evolution")}/batch=2' USING parquet
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
         |FROM orders WHERE o_orderkey % 40 = 1""".stripMargin,
      s"""CREATE OR REPLACE TEMPORARY VIEW graft_source_evolution_back
         |USING parquet
         |OPTIONS (path '${ioDir("source_evolution")}', mergeSchema 'true')""".stripMargin,
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
        |FROM graft_source_evolution_back ORDER BY o_orderkey""".stripMargin),
  )

  /** Execute a declared query's statement script in order (commands run
    * eagerly); returns the last statement's result. */
  def runScript(name: String)(spark: SparkSession, sfDir: String): DataFrame = {
    require(queriesScript.contains(name), s"no SQL script for query: $name")
    registerViews(spark, sfDir)
    val stmts = queriesScript(name)
    stmts.init.foreach(spark.sql)
    spark.sql(stmts.last)
  }
}
