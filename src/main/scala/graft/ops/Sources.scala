package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Tables => T}
import graft.core.Numeric._

/** Source/sink framework — the engine generalization of the reference's
  * pager: `db_close`/`pager_flush` is the only sink and `get_page` the only
  * source in the reference (`/root/reference/db.cpp:220-278, 127-167`, one
  * hand-rolled binary format). Here storage is Spark's source framework:
  * Parquet (columnar, primary), CSV and JSON (interchange), with explicit
  * write→read roundtrips declared as queries so the t2 oracle pins that no
  * value is lost crossing a format boundary.
  *
  * Determinism notes: CSV/JSON carry doubles as shortest-roundtrip text
  * (read back bit-equal) and timestamps via explicit `date_format` /
  * schema-directed parse — never inferred. Partitioned writes
  * (`sink_partitioned`) prove partition pruning: the readback filters on
  * the partition column, and PlanSpec asserts the pruned scan.
  *
  * Intermediates land under java.io.tmpdir/graft_io/<key>; each run
  * overwrites. At cluster scale the same calls target object storage — the
  * plan shapes are identical.
  */
object Sources {
  type Q = (SparkSession, String) => DataFrame

  private def ioDir(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_io/$name"

  /** Parquet write→read roundtrip (R11 flush semantics made explicit):
    * a lineitem slice goes to disk and comes back; the declared result
    * aggregates the READBACK, so the oracle (computed from the original
    * table) proves losslessness. */
  val sinkRoundtrip: Q = (s, d) => {
    val dir = ioDir("sink_roundtrip")
    T.lineitem(s, d).filter(col("l_orderkey") % 97 === 0)
      .write.mode("overwrite").parquet(dir)
    s.read.parquet(dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** CSV interchange roundtrip: orders slice → CSV (header, explicit
    * timestamp format) → schema-directed read → aggregate readback. */
  val sourceCsv: Q = (s, d) => {
    val dir = ioDir("source_csv")
    T.orders(s, d).filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_odate"))
      .write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_odate", StringType)))
    s.read.schema(schema).option("header", "true").csv(dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        to_timestamp(col("o_odate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"))
      .orderBy(col("o_orderkey"))
  }

  /** XML interchange roundtrip (Spark 4 built-in `xml` source — the
    * feeds/sitemaps/legacy-ERP ingestion format): orders slice →
    * row-tagged XML with an explicit timestamp render → schema-directed
    * read → ordered readback. The declared result is the parsed rows
    * themselves (the source_csv contract), so the oracle — computed from
    * the original table — proves the markup roundtrip lossless, element
    * escaping included. At 100 TB XML files split per-file (the format
    * is not line-splittable), so ingest-side sharding into many files —
    * exactly what the row-tag writer produces per partition — is the
    * parallelism story. */
  val sourceXml: Q = (s, d) => {
    val dir = ioDir("source_xml")
    T.orders(s, d).filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_odate"))
      .write.mode("overwrite").option("rootTag", "orders")
      .option("rowTag", "order").format("xml").save(dir)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_odate", StringType)))
    s.read.schema(schema).option("rowTag", "order").format("xml").load(dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        to_timestamp(col("o_odate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"))
      .orderBy(col("o_orderkey"))
  }

  /** DYNAMIC PARTITION OVERWRITE (replace-where) — the lakehouse
    * partition-repair primitive: a status-partitioned orders table is
    * written once, then ONE partition ('F') is replaced by a corrected
    * batch (prices +10) with `partitionOverwriteMode=dynamic`, which
    * rewrites exactly the partitions present in the incoming batch and
    * leaves every other partition's files untouched — the surgical fix
    * for one bad ingest day that never rewrites the table. The declared
    * result audits the post-state per partition; the oracle derives the
    * same from the original table with a CASE. At 100 TB the cost is
    * the replaced partition's bytes, not the table's. */
  val sinkReplaceWhere: Q = (s, d) => {
    val dir = ioDir("sink_replace_where")
    val o = T.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), (col("o_totalprice") + 10.0).as("o_totalprice"),
        col("o_orderstatus"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderstatus").parquet(dir)
    s.read.parquet(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** LINE-DELIMITED TEXT roundtrip — the log/raw-crawl ingestion format
    * (one record per line, field-delimited): documents serialize to
    * ctrl-A (u0001)-delimited lines via the text sink, read back with
    * `spark.read.text`, and the declared result is a per-source audit of
    * the PARSED readback (docs, characters, and a 48-bit content
    * checksum) — the oracle computes the same from the original table,
    * proving the roundtrip lossless. ctrl-A (Hive's default field
    * delimiter) cannot collide with the alnum+space corpus. At 100 TB
    * text sources split by line across partitions like any other
    * splittable format — the parse is a map-side projection. */
  val sourceText: Q = (s, d) => {
    val dir = ioDir("source_text")
    T.documents(s, d)
      .select(concat_ws("\u0001", col("doc_id"), col("source"), col("text"))
        .as("value"))
      .write.mode("overwrite").text(dir)
    val parts = split(col("value"), "\u0001")
    s.read.text(dir)
      .select(element_at(parts, 1).cast("long").as("doc_id"),
        element_at(parts, 2).as("source"),
        element_at(parts, 3).as("text"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"),
        sum(graft.expr.Md5Prefix48.md548(col("text"))).as("checksum"))
      .orderBy(col("source"))
  }

  /** JSON interchange roundtrip: events slice (incl. the nested-JSON
    * `props` string) → JSON lines → schema-directed read → per-type
    * aggregate + a props extraction, proving nested text survives. */
  val sourceJson: Q = (s, d) => {
    val dir = ioDir("source_json")
    T.events(s, d).filter(col("event_id") % 20 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
      .write.mode("overwrite").json(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType), StructField("ts_str", StringType)))
    s.read.schema(schema).json(dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        dsum(get_json_object(col("props"), "$.k").cast("double")).as("sum_k"))
      .orderBy(col("event_type"))
  }

  /** Hive-style partitioned sink + pruned readback: orders written
    * partitioned by o_orderpriority; the readback filters one partition —
    * at 100 TB this is the difference between scanning 1/5 of the data and
    * all of it (PlanSpec pins the PartitionFilters). */
  val sinkPartitioned: Q = (s, d) => {
    val dir = ioDir("sink_partitioned")
    T.orders(s, d)
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(dir)
    s.read.parquet(dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Schema evolution on read: two parquet batches with different schemas
    * (the second adds a column) merged by the reader; rows from the older
    * batch surface NULL for the new column. This is how a 100 TB table
    * grows columns in place — no rewrite of historical files. */
  val sourceEvolution: Q = (s, d) => {
    val dir = ioDir("source_evolution")
    val o = T.orders(s, d)
    o.filter(col("o_orderkey") % 40 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$dir/batch=1")
    o.filter(col("o_orderkey") % 40 === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$dir/batch=2")
    s.read.option("mergeSchema", "true").parquet(dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  /** Sorted-on-write key lookup — the B-tree's key-ordered page format
    * (`/root/reference/db.cpp:61-70`: leaf cells hold key-sorted rows so a
    * point lookup touches one page) generalized to columnar layout:
    * lineitem is written globally sorted by `l_orderkey` (range-partitioned
    * files whose parquet row-group min/max statistics become disjoint key
    * ranges — a coarse sorted index), then read back with the equality
    * predicate pushed into the scan. At 100 TB the lookup reads one
    * row-group of one file instead of the whole table. The declared result
    * equals `key_lookup` on the original table — sort-on-write is
    * lossless; only the access path changes (PlanSpec pins the pushed
    * filter on the sorted layout). */
  val keyLookupSorted: Q = (s, d) => {
    val dir = ioDir("key_lookup_sorted")
    T.lineitem(s, d)
      .orderBy(col("l_orderkey"), col("l_linenumber"))
      .write.mode("overwrite").parquet(dir)
    sortedLookupReadback(s)
  }

  /** Readback half of [[keyLookupSorted]], split out so PlanSpec can audit
    * the scan (PushedFilters on the sorted layout) without re-writing. */
  def sortedLookupReadback(s: SparkSession): DataFrame =
    s.read.parquet(ioDir("key_lookup_sorted"))
      .filter(col("l_orderkey") === 42L)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"))
      .orderBy(col("l_linenumber"))

  /** ORC interchange roundtrip — the second columnar container (ORC ships
    * in Spark's core distribution alongside Parquet). A lineitem slice is
    * written ORC and aggregated from the READBACK; the oracle computes the
    * same aggregate from the original parquet, proving the format boundary
    * is lossless. Same predicate/column pushdown machinery as parquet
    * applies at scale (ORC carries its own min/max stripe statistics). */
  val sourceOrc: Q = (s, d) => {
    val dir = ioDir("source_orc")
    T.lineitem(s, d).filter(col("l_orderkey") % 89 === 0)
      .write.mode("overwrite").orc(dir)
    orcReadback(s)
  }

  /** Readback half of [[sourceOrc]], split out so PlanSpec can audit that
    * the aggregate really consumes the ORC scan. */
  def orcReadback(s: SparkSession): DataFrame =
    s.read.orc(ioDir("source_orc"))
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_discount")).as("sum_disc"))
      .orderBy(col("l_linestatus"))

  /** Copy-on-write UPSERT merge — the reference's INSERT (`db.cpp:455-476`,
    * append into a key-ordered tree) generalized to the maintenance
    * operation a 100 TB table actually needs: a base snapshot merged with a
    * change batch (updates to existing keys + brand-new keys), latest
    * version wins per key, result rewritten as the new snapshot. The merge
    * is one hash shuffle on the key (`row_number` over (key, version desc))
    * — the same shape a Delta/Iceberg MERGE compiles to; at scale the
    * rewrite would be partition-scoped rather than full-table, but the
    * per-partition plan is exactly this. The declared result reads the
    * merged snapshot back, so the oracle (a CASE projection of the change
    * rules over the original table) pins end-to-end losslessness. */
  val mergeUpsert: Q = (s, d) => {
    val baseDir = ioDir("merge_upsert_base")
    val mergedDir = ioDir("merge_upsert")
    val cols = Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"))
    val o = T.orders(s, d)
    o.select(cols :+ lit(0L).as("version"): _*)
      .write.mode("overwrite").parquet(baseDir)
    // change batch: price bump + status flip on keys % 37, fresh inserts
    // with shifted keys on keys % 97 — both tagged version 1
    val updates = o.filter(col("o_orderkey") % 37 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 10.0).as("o_totalprice"),
        lit(1L).as("version"))
    val inserts = o.filter(col("o_orderkey") % 97 === 0)
      .select((col("o_orderkey") + 5000000L).as("o_orderkey"),
        col("o_custkey"), lit("N").as("o_orderstatus"),
        col("o_totalprice"), lit(1L).as("version"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderkey")).orderBy(col("version").desc)
    s.read.parquet(baseDir)
      .unionByName(updates).unionByName(inserts)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
      .write.mode("overwrite").parquet(mergedDir)
    s.read.parquet(mergedDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("version"))
      .orderBy(col("o_orderkey"))
  }

  /** IDEMPOTENT INGEST — the at-least-once delivery contract every
    * production feed needs (a Kafka replay, a retried batch job, an
    * overlapping backfill all re-deliver rows already applied):
    * the incoming batch contains (a) each new row TWICE (the duplicate
    * delivery) and (b) a replay overlap of rows already in the base
    * snapshot. Apply = dedup the batch on its key (min-struct argmin —
    * deterministic under any arrival order), anti-join away keys the
    * base already holds, append. Applying the batch once or N times
    * yields the identical table — the property the declared audit pins
    * (the oracle computes the one-apply result declaratively from the
    * source table).
    *
    * 100 TB shape: batch dedup shuffles the BATCH on its key (delta-
    * sized); the already-present gate is an anti join on the key —
    * broadcast when the batch is small, else one co-shuffle with the
    * base keys (or the `dedup_bloom` broadcast gate when even the key
    * column is too wide); the base parquet itself is never rewritten —
    * this is an APPEND, the cheapest merge there is. */
  val mergeIdempotent: Q = (s, d) => {
    val baseDir = ioDir("merge_idempotent_base")
    val outDir = ioDir("merge_idempotent")
    val o = T.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    // base snapshot: keys not divisible by 3
    o.filter(col("o_orderkey") % 3 =!= 0)
      .write.mode("overwrite").parquet(baseDir)
    // batch: the %3==0 rows delivered twice + a replay overlap of already-
    // present %5==1 rows — exactly what an at-least-once feed emits
    val fresh = o.filter(col("o_orderkey") % 3 === 0)
    val batch = fresh.unionByName(fresh)
      .unionByName(o.filter(col("o_orderkey") % 3 =!= 0 &&
        col("o_orderkey") % 5 === 1))
    val base = s.read.parquet(baseDir)
    val deduped = batch
      .groupBy(col("o_orderkey"))
      .agg(min(struct(col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))).as("r"))
      .select(col("o_orderkey"), col("r.o_custkey"), col("r.o_orderstatus"),
        col("r.o_totalprice"))
    // materialize the gated delta to a staging path FIRST: Spark does not
    // guarantee a job that reads a parquet path while appending to the same
    // path (a task retry can double-read the half-written snapshot) — the
    // stage/append split makes each action read-only or write-only
    val stageDir = ioDir("merge_idempotent_stage")
    deduped.join(base.select(col("o_orderkey")), Seq("o_orderkey"),
        "left_anti")
      .write.mode("overwrite").parquet(stageDir)
    s.read.parquet(stageDir).write.mode("append").parquet(baseDir)
    s.read.parquet(baseDir).write.mode("overwrite").parquet(outDir)
    s.read.parquet(outDir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        countDistinct(col("o_orderkey")).as("n_keys"))
      .orderBy(col("o_orderstatus"))
  }

  /** VACUUM / retention cleanup — the storage-maintenance dual of
    * `sink_compaction` (compaction writes the better layout; vacuum
    * RECLAIMS the superseded one): a 4-file v0 layout is compacted into a
    * single-file v1, both readable side by side (the time-travel window),
    * then v0's files are physically deleted and the declared audit proves
    * (a) before: both versions' files and rows visible, (b) after:
    * exactly the compacted file remains and the ROWS ARE UNCHANGED —
    * vacuum reclaims bytes, never data. File counts are part of the
    * declared semantics (repartition(4) / repartition(1)).
    *
    * 100 TB shape: vacuum is a pure METADATA + delete pass — nothing is
    * read or shuffled; the cost is proportional to the file listing, which
    * is why production tables vacuum from a manifest rather than an
    * object-store LIST. The audit's readback prunes to the surviving
    * version directory. */
  val metaVacuum: Q = (s, d) => {
    val root = ioDir("meta_vacuum")
    val o = T.orders(s, d).filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    o.repartition(4).write.mode("overwrite").parquet(s"$root/v=0")
    s.read.parquet(s"$root/v=0").repartition(1)
      .write.mode("overwrite").parquet(s"$root/v=1")
    def nFiles(sub: String): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$sub")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")).toLong
    }
    def audit(phase: String, dirs: Seq[String], files: Long): DataFrame =
      dirs.map(dir => s.read.parquet(s"$root/$dir"))
        .reduce(_ unionByName _)
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_price"))
        .select(lit(phase).as("phase"), lit(files).as("n_files"),
          col("n_rows"), col("sum_price"))
    val before = audit("0_before", Seq("v=0", "v=1"), nFiles("v=0") + nFiles("v=1"))
      .collect()
    // VACUUM: physically drop the superseded v0 files
    val v0 = new org.apache.hadoop.fs.Path(s"$root/v=0")
    v0.getFileSystem(s.sparkContext.hadoopConfiguration).delete(v0, true)
    val after = audit("1_after", Seq("v=1"), nFiles("v=1"))
    s.createDataFrame(
        s.sparkContext.parallelize(before.toSeq),
        after.schema)
      .unionByName(after)
      .orderBy(col("phase"))
  }

  /** Readback used by PlanSpec to audit partition pruning (split out so the
    * audit sees the scan without the eager write in the same fn). */
  def partitionedReadback(s: SparkSession): DataFrame =
    s.read.parquet(ioDir("sink_partitioned"))
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))

  /** Raw-asset ingestion via the `binaryFile` source — how media actually
    * lands in a multimodal pipeline: one opaque `.bin` file per sampled
    * document (its 16-byte md5 raster), written by the executors
    * themselves (`foreachPartition` — each task writes its own files, no
    * driver funnel), then read back as (path, length, content) rows with
    * the doc id recovered from the file name and the blob decoded with
    * the same pixel math as `mm_pixels`. The oracle recomputes everything
    * from the documents table, so the filesystem round trip is proven
    * byte-lossless.
    *
    * 100 TB shape: `binaryFile` parallelizes over files and
    * `pathGlobFilter` prunes at listing time — a bucket of opaque blobs
    * keyed by name, joined to catalog metadata by parsed id, is exactly
    * the asset-drop interface production multimodal pipelines ingest. */
  val sourceBinary: Q = (s, d) => {
    val dir = ioDir("source_binary")
    val root = new java.io.File(dir)
    if (root.exists()) root.listFiles().foreach(f => { f.delete(); () })
    root.mkdirs()
    T.documents(s, d).filter(col("doc_id") % 100 === 0)
      .select(col("doc_id"), unhex(md5(col("text"))).as("payload"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"doc_${r.getLong(0)}.bin"),
            r.getAs[Array[Byte]](1))
        }
      }
    val px = transform(sequence(lit(1), lit(16)), i =>
      conv(substring(hex(col("content")), (i - 1) * 2 + 1, lit(2)), 16, 10)
        .cast("int"))
    s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(dir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long")
          .as("doc_id"),
        col("length"),
        aggregate(px, lit(0L), (a, p) => a + p).as("px_sum"))
      .orderBy(col("doc_id"))
  }

  /** Storage-layout introspection as a DECLARED query — the reference
    * REPL's `.btree` meta-command (`/root/reference/db.cpp:448-457`,
    * which prints the leaf's keys in storage order) generalized to the
    * columnar layout: write a key-sorted slice, then report each parquet
    * row group's key range and row count from the file footers
    * ([[graft.core.Meta.layout]]). On a sorted layout the ranges are
    * ordered and disjoint — the generalized B-tree invariant behind
    * min/max row-group pruning. The oracle recomputes the expected
    * key-range summary from the source table, pinning that the footer
    * statistics faithfully describe the written data (the single bounded
    * slice fits one row group at harness scales; MetaSpec covers the
    * multi-group disjointness property separately). */
  val metaLayout: Q = (s, d) => {
    val dir = ioDir("meta_layout")
    T.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .repartition(1)
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
      .write.mode("overwrite").parquet(dir)
    graft.core.Meta.layout(s, dir, "l_orderkey")
      .select(col("row_group"), col("min_key"), col("max_key"), col("n_rows"))
      .orderBy(col("row_group"))
  }

  /** Z-ORDER clustered write + two-column pruned readback — the
    * multi-column generalization of `key_lookup_sorted`'s single-key
    * layout (and of the B-tree's one-dimensional key order,
    * `/root/reference/db.cpp:61-70`): events cluster on the Morton
    * interleave of (user_id, event day) ([[graft.api.ZOrder]]), so every
    * written file covers a small rectangle of the (user, time) domain and
    * a filter on EITHER dimension prunes files by parquet min/max footer
    * stats alone — the Delta/Iceberg `OPTIMIZE ZORDER BY` recipe built
    * from codegen'd bitwise expressions. Normalization bounds come from a
    * one-row aggregate broadcast back over the stream (at 100 TB: footer
    * statistics). The oracle recomputes the filtered slice from the
    * source table, proving the clustered rewrite lossless; MetaSpec pins
    * the locality property (per-file spans bounded in BOTH dimensions),
    * PlanSpec the pushed-down readback filters. */
  val sinkZorder: Q = (s, d) => {
    import graft.api.ZOrder
    val dir = ioDir("sink_zorder")
    val ev = T.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
      .withColumn("day", datediff(to_date(col("ts")),
        lit("2024-01-01").cast("date")).cast("long"))
    val b = ev.agg(
      min(col("user_id")).as("u0"), max(col("user_id")).as("u1"),
      min(col("day")).as("d0"), max(col("day")).as("d1"))
    ev.crossJoin(broadcast(b))
      .withColumn("z", ZOrder.zval(
        ZOrder.normalize(col("user_id"), col("u0"), col("u1")),
        ZOrder.normalize(col("day"), col("d0"), col("d1"))))
      .repartitionByRange(8, col("z"))
      .sortWithinPartitions(col("z"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
      .write.mode("overwrite").parquet(dir)
    zorderReadback(s)
  }

  /** Readback half of [[sinkZorder]], split out so PlanSpec can audit the
    * scan (PushedFilters on BOTH clustered dimensions) without
    * re-writing. */
  def zorderReadback(s: SparkSession): DataFrame =
    s.read.parquet(ioDir("sink_zorder"))
      .filter(col("user_id").between(10, 30) &&
        col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
      .orderBy(col("event_id"))

  /** Snapshot TABLE DIFF — the data-regression check between two versions
    * of a table (yesterday's orders vs today's): rows classify as
    * added / removed / changed via ONE full-outer join on the key with
    * each side's payload packed into a struct (atomic row comparison —
    * the `merge_upsert` counterpart for auditing instead of writing).
    * The "next" snapshot here is a deterministic perturbation of the base
    * (modulo-keyed deletes, +1.00 price updates — an exact IEEE add, no
    * rounding call to diverge on — and shifted-key inserts), so the
    * expected classification is recomputable by the oracle. At 100 TB
    * both sides hash-shuffle on the key once; with both snapshots bucketed
    * by the key the join is shuffle-free. */
  val tableDiff: Q = (s, d) => {
    def payload = struct(col("o_totalprice"), col("o_orderstatus"))
    val base = T.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val next = base
      .filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
      .unionByName(base.filter(col("o_orderkey") % 101 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
    val b = base.select(col("o_orderkey"), payload.as("bv"))
    val n = next.select(col("o_orderkey"), payload.as("nv"))
    b.join(n, Seq("o_orderkey"), "full_outer")
      .withColumn("change",
        when(col("bv").isNull, "added")
          .when(col("nv").isNull, "removed")
          .when(col("bv") =!= col("nv"), "changed"))
      .filter(col("change").isNotNull)
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("change"))
  }

  /** Bucketed CTAS + shuffle-free join readback — the storage answer to
    * a join that repeats every run: both sides are written
    * `bucketBy(8, key).sortBy(key)` managed tables, so the recurring
    * join's Exchange disappears entirely (PlanSpec pins zero Exchange in
    * [[bucketedReadback]]'s join). At 100 TB the fact-table shuffle is
    * paid ONCE at write time; every subsequent run joins co-located
    * buckets locally. The declared result aggregates the readback, so
    * the oracle (plain join on the source tables) proves the bucketed
    * layout loses nothing. */
  val sinkBucketed: Q = (s, d) => {
    Seq("graft_li_bkt", "graft_o_bkt").foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      // a previously-failed run can leave an orphan managed-table location
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"spark-warehouse/$t"))
    }
    T.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("graft_li_bkt")
    T.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("graft_o_bkt")
    bucketedReadback(s)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_orderstatus"))
  }

  /** Join-only readback over the bucketed tables (split out so PlanSpec
    * audits the join without the write or the final agg's own exchange).
    * `hint("merge")`: at toy SF the planner would broadcast; the property
    * under test is the sort-merge path riding bucket co-location. */
  def bucketedReadback(s: SparkSession): DataFrame =
    s.table("graft_li_bkt").hint("merge")
      .join(s.table("graft_o_bkt"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderstatus"), col("l_quantity"))

  /** DYNAMIC partition pruning — the partition filter arrives at run time
    * from the join's dim side: orders land partitioned by priority, the
    * readback joins a 5-row priority→class dim filtered to 'rush', and
    * with NO literal predicate on the partition column anywhere Catalyst
    * injects a DynamicPruningExpression into the fact scan so only the
    * two rush partitions are listed and read (PlanSpec pins it via
    * [[dppReadback]]). At 100 TB this is scanning the dim-selected slice
    * instead of the whole fact table — without the query author ever
    * knowing the partition list. */
  /** Incremental MATERIALIZED-VIEW maintenance — the partial-aggregate
    * state pattern behind every streaming/batch incremental ETL: a daily
    * per-type aggregate view is kept as MERGEABLE partials (count + EXACT
    * decimal sum — decimal so late rounding equals one-shot rounding),
    * materialized to parquet. When the delta batch (ts ≥ the high-water
    * mark) arrives, ONLY the delta is scanned and aggregated; the standing
    * state merges key-wise through one full-outer join and lands back on
    * disk. History is never rescanned — maintenance cost is
    * O(|state| + |delta|), not O(|history|), which is the whole point at
    * 100 TB (the view over a year of events updates by reading one day).
    * Rounding happens once, at read-out, after the exact decimal merge —
    * so the maintained view is BYTE-IDENTICAL to a full recompute, and the
    * oracle is exactly that recompute over all of events. */
  val viewIncremental: Q = (s, d) => {
    val stateDir = ioDir("view_incremental_state")
    val outDir = ioDir("view_incremental")
    val split = lit("2024-01-20").cast("timestamp")
    def partials(df: DataFrame) = df
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(20, 8))).as("sv"))
    // era 1: history partials become the standing view state
    partials(T.events(s, d).filter(col("ts") < split))
      .write.mode("overwrite").parquet(stateDir)
    // era 2: scan ONLY the delta; merge states key-wise
    val delta = partials(T.events(s, d).filter(col("ts") >= split))
      .select(col("event_type"), col("day"),
        col("n").as("n2"), col("sv").as("s2"))
    s.read.parquet(stateDir)
      .select(col("event_type"), col("day"),
        col("n").as("n1"), col("sv").as("s1"))
      .join(delta, Seq("event_type", "day"), "full_outer")
      .select(col("event_type"), col("day"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L)))
          .as("n_events"),
        round(coalesce(col("s1"), lit(0)) + coalesce(col("s2"), lit(0)), 2)
          .cast("double").as("sum_value"))
      .write.mode("overwrite").parquet(outDir)
    s.read.parquet(outDir)
      .orderBy(col("event_type"), col("day"))
  }

  val scanDpp: Q = (s, d) => {
    import s.implicits._
    T.orders(s, d).write.mode("overwrite")
      .partitionBy("o_orderpriority").parquet(ioDir("scan_dpp"))
    // the dim must be a REAL source: an inline Seq collapses to a
    // LocalRelation whose filter constant-folds away at optimization
    // time, and the PartitionPruning rule then sees no selective
    // predicate on the filtering side and inserts nothing
    Seq(("1-URGENT", "rush"), ("2-HIGH", "rush"), ("3-MEDIUM", "std"),
        ("4-NOT SPECIFIED", "std"), ("5-LOW", "std"))
      .toDF("prio", "cls")
      .write.mode("overwrite").parquet(ioDir("scan_dpp_dim"))
    dppReadback(s)
  }

  /** Readback half of [[scanDpp]] (split out for PlanSpec's audit). */
  def dppReadback(s: SparkSession): DataFrame =
    s.read.parquet(ioDir("scan_dpp"))
      .join(broadcast(
        s.read.parquet(ioDir("scan_dpp_dim")).filter(col("cls") === "rush")),
        col("o_orderpriority") === col("prio"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))

  /** Tombstone DELETE compaction — the right-to-be-forgotten rewrite: an
    * erasure list (here derived deterministically: user_id % 17 = 0)
    * anti-joins the event log and the survivors are rewritten; the
    * declared result aggregates the readback, proving the deleted users
    * are gone AND nothing else changed. The tombstone side broadcasts (a
    * GDPR list is small by nature); at 100 TB the rewrite cost is one
    * scan + one broadcast anti join per compaction cycle — the pattern
    * Delta/Iceberg `DELETE FROM` executes under the hood. */
  val mergeDelete: Q = (s, d) => {
    val dir = ioDir("merge_delete")
    val ev = T.events(s, d)
    val tomb = ev.select(col("user_id")).distinct()
      .filter(col("user_id") % 17 === 0)
    ev.join(broadcast(tomb), Seq("user_id"), "left_anti")
      .write.mode("overwrite").parquet(dir)
    s.read.parquet(dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** MERGE-ON-READ — the lakehouse read path the reference's rewrite-
    * in-place model lacks (and [[mergeUpsert]]'s dual: upsert REWRITES
    * the base at write time, MoR defers ALL reconciliation to the
    * scan): the base parquet stays immutable while deletes land as a
    * key list (the deletion-vector analogue) and updates as a delta
    * file; the read composes base ∖ (deletes ∪ delta-keys) ∪ live
    * delta. Delete wins over update for a key in both (the Iceberg/
    * Delta MoR precedence).
    *
    * 100 TB shape: the base NEVER rewrites and never shuffles — both
    * reconciliation joins key on o_orderkey with the small sides
    * (deletes and one batch's delta) BROADCAST, so a merge-on-read scan
    * costs one map-side pass over the base regardless of base size.
    * That asymmetry (cheap writes, slightly heavier reads, zero rewrite
    * amplification) is the entire point of MoR. */
  val mergeMor: Q = (s, d) => {
    val baseDir = ioDir("merge_mor_base")
    val dvDir = ioDir("merge_mor_dv")
    val deltaDir = ioDir("merge_mor_delta")
    val o = T.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    o.write.mode("overwrite").parquet(baseDir)
    o.filter(col("o_orderkey") % 53 === 0).select(col("o_orderkey"))
      .write.mode("overwrite").parquet(dvDir)
    o.filter(col("o_orderkey") % 41 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("M").as("o_orderstatus"),
        (col("o_totalprice") + 5.0).as("o_totalprice"))
      .write.mode("overwrite").parquet(deltaDir)
    val base = s.read.parquet(baseDir)
    val dv = s.read.parquet(dvDir)
    val delta = s.read.parquet(deltaDir)
    val masked = dv.unionByName(delta.select(col("o_orderkey"))).distinct()
    base.join(broadcast(masked), Seq("o_orderkey"), "left_anti")
      .unionByName(
        delta.join(broadcast(dv), Seq("o_orderkey"), "left_anti"))
      .orderBy(col("o_orderkey"))
  }

  /** Small-file COMPACTION — the table-maintenance pass every streaming
    * or per-batch ingest needs: a 64-small-file layout (each file far
    * below a parquet row group's worth — the classic "too many files"
    * state that drowns a 100 TB scan in open/footer overhead and
    * NameNode pressure) is rewritten into 4 right-sized files. The
    * declared result is the compaction MANIFEST: file counts observed
    * from the actual layouts on both sides of the rewrite plus row count
    * and an exact content checksum, proving the rewrite lost nothing.
    *
    * The rewrite uses repartition (round-robin shuffle) so the output
    * file count is exact and deterministic; a production compactor
    * would bin-pack with coalesce (no shuffle) at the cost of
    * size-balanced-only-in-expectation outputs. At 100 TB compaction
    * runs per-partition-directory, embarrassingly parallel across them. */
  val sinkCompaction: Q = (s, d) => {
    val smallDir = ioDir("sink_compaction_small")
    val outDir = ioDir("sink_compaction_out")
    val li = T.lineitem(s, d).filter(col("l_orderkey") % 3 === 0)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    li.repartition(64).write.mode("overwrite").parquet(smallDir)
    val small = s.read.parquet(smallDir)
    small.repartition(4).write.mode("overwrite").parquet(outDir)
    val compacted = s.read.parquet(outDir)
    val before = small.agg(
      countDistinct(col("_metadata.file_path")).as("files_before"))
    val after = compacted.agg(
      countDistinct(col("_metadata.file_path")).as("files_after"),
      count(lit(1)).as("n_rows"),
      dsum(col("l_quantity")).as("sum_qty"))
    before.crossJoin(after)
  }

  /** CDC-LOG APPLY — the Debezium/binlog shape [[mergeUpsert]] (U+I
    * only) and [[mergeMor]] (read-side) both stop short of: an ordered
    * change log of INSERT / UPDATE / DELETE operations with sequence
    * numbers replays onto a snapshot, LAST operation per key wins, and a
    * winning DELETE removes the row. The planted log exercises every
    * precedence: keys %31 get an U@1; the %62 subset then a D@2
    * (delete-after-update → gone); the %93 subset an I@3 re-insert
    * (update-then-reinsert → the @3 row survives, and on the %186
    * overlap the I@3 beats the D@2 — the resurrection case every CDC
    * consumer must get right).
    *
    * 100 TB shape: one hash shuffle on the key for the latest-wins
    * `row_number` — identical cost to [[mergeUpsert]]; op semantics add
    * ZERO extra passes because the D filter rides the same window
    * projection. A real CDC consumer runs this per micro-batch with the
    * snapshot partitioned on the same key, so only changed partitions
    * rewrite. */
  val mergeCdc: Q = (s, d) => {
    val baseDir = ioDir("merge_cdc_base")
    val o = T.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    o.select(col("*"), lit(0L).as("seq"), lit("I").as("op"))
      .write.mode("overwrite").parquet(baseDir)
    val upd = o.filter(col("o_orderkey") % 31 === 0)
      .select(col("o_orderkey"), col("o_custkey"), lit("C").as("o_orderstatus"),
        (col("o_totalprice") + 1.0).as("o_totalprice"),
        lit(1L).as("seq"), lit("U").as("op"))
    val del = o.filter(col("o_orderkey") % 62 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), lit(2L).as("seq"), lit("D").as("op"))
    val ins = o.filter(col("o_orderkey") % 93 === 0)
      .select(col("o_orderkey"), col("o_custkey"), lit("R").as("o_orderstatus"),
        (col("o_totalprice") + 2.0).as("o_totalprice"),
        lit(3L).as("seq"), lit("I").as("op"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderkey")).orderBy(col("seq").desc)
    s.read.parquet(baseDir)
      .unionByName(upd).unionByName(del).unionByName(ins)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("seq"))
      .orderBy(col("o_orderkey"))
  }

  /** TIME TRAVEL — the versioned-snapshot read (Delta/Iceberg `VERSION
    * AS OF`): version 0 is the immutable base write, version 1 a delta
    * batch (updates on keys %43, inserts at +9,000,000,000 — beyond any
    * genuine orderkey at any SF, the same collision-free offset
    * `constraint_fk` uses; +6M collided with real keys at sf ≥ 1, where
    * latest-wins dedup and the oracle's blind union diverge); a read AS OF v
    * unions every batch with version ≤ v, latest version per key wins.
    * The declared result audits BOTH versions side by side — row count
    * and exact revenue checksum per version — proving the v0 read is
    * untouched by the v1 write (snapshot isolation as a queryable
    * fact).
    *
    * 100 TB shape: each version batch is its own immutable file set, so
    * AS OF v scans only versions ≤ v; the latest-wins window shuffles
    * on the key once per read. The audit aggregates are one pass per
    * version over pruned file sets — a manifest/metadata-level
    * operation in a real table format. */
  val metaTimeTravel: Q = (s, d) => {
    val v0Dir = ioDir("time_travel_v0")
    val v1Dir = ioDir("time_travel_v1")
    val o = T.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    o.select(col("*"), lit(0L).as("version"))
      .write.mode("overwrite").parquet(v0Dir)
    o.filter(col("o_orderkey") % 43 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + 100.0).as("o_totalprice"),
        lit(1L).as("version"))
      .unionByName(o.filter(col("o_orderkey") % 71 === 0)
        .select((col("o_orderkey") + 9000000000L).as("o_orderkey"),
          col("o_totalprice"), lit(1L).as("version")))
      .write.mode("overwrite").parquet(v1Dir)
    def asOf(v: Long): DataFrame = {
      val dirs = Seq(v0Dir, v1Dir).take(v.toInt + 1)
      val all = dirs.map(s.read.parquet(_)).reduce(_ unionByName _)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderkey")).orderBy(col("version").desc)
      all.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("revenue"))
        .select(lit(v).as("version"), col("n_rows"), col("revenue"))
    }
    asOf(0L).unionByName(asOf(1L)).orderBy(col("version"))
  }

  val queries: Map[String, Q] = Map(
    "merge_cdc" -> mergeCdc,
    "meta_time_travel" -> metaTimeTravel,
    "merge_mor" -> mergeMor,
    "sink_compaction" -> sinkCompaction,
    "sink_roundtrip" -> sinkRoundtrip,
    "source_csv" -> sourceCsv,
    "source_xml" -> sourceXml,
    "source_text" -> sourceText,
    "sink_replace_where" -> sinkReplaceWhere,
    "source_json" -> sourceJson,
    "sink_partitioned" -> sinkPartitioned,
    "source_evolution" -> sourceEvolution,
    "key_lookup_sorted" -> keyLookupSorted,
    "source_orc" -> sourceOrc,
    "merge_upsert" -> mergeUpsert,
    "source_binary" -> sourceBinary,
    "meta_layout" -> metaLayout,
    "sink_zorder" -> sinkZorder,
    "table_diff" -> tableDiff,
    "sink_bucketed" -> sinkBucketed,
    "scan_dpp" -> scanDpp,
    "merge_delete" -> mergeDelete,
    "view_incremental" -> viewIncremental,
  )

  val oracles: Map[String, String] = Map(
    "meta_checksum" ->
      """WITH h AS (
        |  SELECT l_returnflag,
        |    CAST('0x' || substr(md5(l_orderkey || '|' || l_linenumber
        |      || '|' || CAST(l_quantity AS BIGINT) || '|' || l_returnflag
        |      || '|' || l_linestatus), 1, 12) AS BIGINT) AS rh
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(SUM(CAST(rh AS DECIMAL(28,0))) AS DECIMAL(38,0))
        |    % 2305843009213693951 AS BIGINT) AS sum_h,
        |  bit_xor(rh) AS xor_h
        |FROM h GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // idempotent ingest: duplicate deliveries and replay overlap collapse,
    // so the one-apply (= N-apply) result is exactly the source table
    "merge_idempotent" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(round(SUM(CAST(o_totalprice AS DECIMAL(20,8))), 2) AS DOUBLE)
        |    AS sum_price,
        |  COUNT(DISTINCT o_orderkey) AS n_keys
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // vacuum audit re-derived declaratively: before = both versions (2n
    // rows, 4+1 files), after = the compacted survivor (n rows, 1 file);
    // file counts are declared semantics (repartition(4)/(1))
    "meta_vacuum" ->
      """WITH base AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(round(SUM(CAST(o_totalprice AS DECIMAL(20,8))), 2) AS DOUBLE)
        |      AS sp,
        |    CAST(round(SUM(CAST(o_totalprice AS DECIMAL(20,8))) * 2, 2)
        |      AS DOUBLE) AS sp2
        |  FROM orders WHERE o_orderkey % 11 = 0)
        |SELECT '0_before' AS phase, CAST(5 AS BIGINT) AS n_files,
        |  CAST(2 * n AS BIGINT) AS n_rows, sp2 AS sum_price FROM base
        |UNION ALL
        |SELECT '1_after' AS phase, CAST(1 AS BIGINT) AS n_files,
        |  CAST(n AS BIGINT) AS n_rows, sp AS sum_price FROM base
        |ORDER BY phase""".stripMargin,

    // CDC replay re-derived declaratively: last-seq-wins with D removal;
    // the %186 overlap (D@2 then I@3) pins the resurrection precedence
    "merge_cdc" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, seq FROM (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 93 = 0 THEN 'R'
        |         WHEN o_orderkey % 31 = 0 THEN 'C'
        |         ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 93 = 0 THEN o_totalprice + 2.0
        |         WHEN o_orderkey % 31 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    CAST(CASE WHEN o_orderkey % 93 = 0 THEN 3
        |              WHEN o_orderkey % 31 = 0 THEN 1
        |              ELSE 0 END AS BIGINT) AS seq
        |  FROM orders
        |  WHERE o_orderkey % 62 <> 0 OR o_orderkey % 93 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    // time travel: both versions' audits recompute declaratively; the v0
    // row matching the pre-v1 table proves snapshot isolation
    "meta_time_travel" ->
      s"""SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n_rows,
         |  ${dsumSql("o_totalprice")} AS revenue
         |FROM orders
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), COUNT(*), ${dsumSql("p")}
         |FROM (
         |  SELECT CASE WHEN o_orderkey % 43 = 0 THEN o_totalprice + 100.0
         |              ELSE o_totalprice END AS p
         |  FROM orders
         |  UNION ALL
         |  SELECT o_totalprice FROM orders WHERE o_orderkey % 71 = 0)
         |ORDER BY version""".stripMargin,

    // merge-on-read re-derived declaratively: the oracle never sees the
    // base/dv/delta files, only the change rules applied to orders —
    // delete beats update for keys divisible by both 41 and 53
    "merge_mor" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 41 = 0 THEN 'M' ELSE o_orderstatus END
        |    AS o_orderstatus,
        |  CASE WHEN o_orderkey % 41 = 0 THEN o_totalprice + 5.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderkey % 53 <> 0
        |ORDER BY o_orderkey""".stripMargin,

    // the file counts are layout constants the engine must OBSERVE from
    // the actual directories (64 round-robin shards in, 4 out); rows and
    // checksum recompute from the source — equality proves the
    // compaction rewrite is lossless
    "sink_compaction" ->
      s"""SELECT CAST(64 AS BIGINT) AS files_before,
         |  CAST(4 AS BIGINT) AS files_after,
         |  COUNT(*) AS n_rows,
         |  ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem WHERE l_orderkey % 3 = 0""".stripMargin,

    // incremental maintenance must equal the one-shot recompute — the
    // oracle IS that recompute; decimal partials make the equality exact
    "view_incremental" ->
      s"""SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
         |  ${dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the erasure list is predicate-derived, so the oracle is the filter
    // complement — the anti join must agree with it exactly
    "merge_delete" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  ${dsumSql("value")} AS sum_value
         |FROM events WHERE user_id % 17 <> 0
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // bucketing is a physical layout choice — the oracle is the plain join
    "sink_bucketed" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n_items,
         |  ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // partition pruning is a physical scan choice — the oracle is the
    // plain dim join (dual-dialect VALUES inline table)
    "scan_dpp" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${dsumSql("o_totalprice")} AS sum_price
         |FROM orders JOIN (VALUES ('1-URGENT', 'rush'), ('2-HIGH', 'rush'),
         |    ('3-MEDIUM', 'std'), ('4-NOT SPECIFIED', 'std'),
         |    ('5-LOW', 'std')) AS dim(prio, cls)
         |  ON o_orderpriority = prio
         |WHERE cls = 'rush'
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "sink_roundtrip" ->
      s"""SELECT l_returnflag, COUNT(*) AS n,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_price
         |FROM lineitem WHERE l_orderkey % 97 = 0
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "source_csv" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  round(o_totalprice, 2) AS o_totalprice,
        |  CAST(date_trunc('second', o_orderdate) AS TIMESTAMP) AS o_orderdate
        |FROM orders WHERE o_orderkey % 50 = 0
        |ORDER BY o_orderkey""".stripMargin,

    // same readback contract as source_csv: the XML roundtrip must
    // reproduce the original rows exactly
    "source_xml" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  round(o_totalprice, 2) AS o_totalprice,
        |  CAST(date_trunc('second', o_orderdate) AS TIMESTAMP) AS o_orderdate
        |FROM orders WHERE o_orderkey % 50 = 0
        |ORDER BY o_orderkey""".stripMargin,

    // post-state derived from the original with a CASE: the 'F' partition
    // carries the +10 correction, every other partition is untouched
    "sink_replace_where" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${dsumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 10.0 ELSE o_totalprice END")} AS sum_price
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // losslessness proof: audit the ORIGINAL table with the same md5-48
    // content checksum the engine computes on the text-file readback
    "source_text" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
        |  CAST(SUM(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT)) AS BIGINT) AS checksum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "source_json" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  ${dsumSql("value")} AS sum_value,
         |  ${dsumSql("CAST(json_extract_string(props, '$.k') AS DOUBLE)")} AS sum_k
         |FROM events WHERE event_id % 20 = 0
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "sink_partitioned" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${dsumSql("o_totalprice")} AS sum_price
         |FROM orders WHERE o_orderpriority = '1-URGENT'
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "key_lookup_sorted" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
        |  l_extendedprice
        |FROM lineitem WHERE l_orderkey = 42 ORDER BY l_linenumber""".stripMargin,

    "source_orc" ->
      s"""SELECT l_linestatus, COUNT(*) AS n,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_discount")} AS sum_disc
         |FROM lineitem WHERE l_orderkey % 89 = 0
         |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    // latest-version-wins merge re-derived declaratively: the oracle never
    // sees the base/merged snapshots, only the change rules applied to the
    // original table — pinning that the write→merge→rewrite cycle loses
    // nothing
    "merge_upsert" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, version
        |FROM (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 37 = 0 THEN 'U' ELSE o_orderstatus END
        |      AS o_orderstatus,
        |    CASE WHEN o_orderkey % 37 = 0 THEN o_totalprice + 10.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    CAST(CASE WHEN o_orderkey % 37 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |      AS version
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 5000000, o_custkey, 'N', o_totalprice,
        |    CAST(1 AS BIGINT)
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    "source_evolution" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(NULL AS VARCHAR) AS o_orderpriority
        |FROM orders WHERE o_orderkey % 40 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
        |FROM orders WHERE o_orderkey % 40 = 1
        |ORDER BY o_orderkey""".stripMargin,

    // the oracle never touches the files: it recomputes id, byte length
    // and pixel sum from the documents table — equality proves the
    // write→binaryFile-read round trip byte-lossless
    "source_binary" ->
      """SELECT doc_id, CAST(16 AS BIGINT) AS length,
        |  CAST(list_sum(list_transform(range(1, 17),
        |    i -> CAST(('0x' || substr(md5(text), (i-1)*2 + 1, 2)) AS INT)))
        |    AS BIGINT) AS px_sum
        |FROM documents WHERE doc_id % 100 = 0
        |ORDER BY doc_id""".stripMargin,

    // the footer statistics must describe exactly the data that was
    // written: expected key range + row count recomputed from the source
    "meta_layout" ->
      """SELECT CAST(0 AS INT) AS row_group,
        |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem""".stripMargin,

    // dual-dialect ANSI: the same deterministic perturbation re-derived,
    // classified via FULL OUTER JOIN — also serves as the SqlCatalog text
    "table_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |next_ AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus
        |  FROM base WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus
        |  FROM base WHERE o_orderkey % 101 = 0),
        |j AS (
        |  SELECT CASE WHEN b.o_orderkey IS NULL THEN 'added'
        |              WHEN n.o_orderkey IS NULL THEN 'removed'
        |              WHEN b.o_totalprice <> n.o_totalprice
        |                OR b.o_orderstatus <> n.o_orderstatus THEN 'changed'
        |         END AS change
        |  FROM base b FULL OUTER JOIN next_ n ON b.o_orderkey = n.o_orderkey)
        |SELECT change, COUNT(*) AS n_rows FROM j
        |WHERE change IS NOT NULL GROUP BY change ORDER BY change""".stripMargin,

    // the clustered rewrite must be lossless: the filtered readback has to
    // equal the same slice taken straight from the source table
    "sink_zorder" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |  event_type, value
        |FROM events
        |WHERE user_id BETWEEN 10 AND 30
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY event_id""".stripMargin,
  )
}
