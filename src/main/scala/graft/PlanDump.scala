package graft

import scala.collection.mutable

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump `.explain("formatted")` for a list of declared keys to files —
  * the plans/rNN evidence contract: `runMain graft.PlanDump <outDir> <suffix>
  * <key1,key2,...>` writes `<outDir>/<key>_<suffix>.txt` per key. A key
  * written `sql:<key>` dumps the plan of `SqlCatalog.sql(key)` instead, as
  * `<outDir>/sql_<key>_<suffix>.txt`.
  *
  * A key that materializes barriers returns a plan that starts at the last
  * one, so the plan of every `localCheckpoint`/`checkpoint` action run
  * while the key builds is written too, in order, as
  * `<name>_<suffix>_barrier<N>.txt`. `materializeHashed` barriers run an
  * RDD action, not a Dataset action, and are not captured. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val keys = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def write(name: String, plan: String): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(outDir, name),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/$name (${plan.length} chars)")
    }
    val barriers = mutable.ArrayBuffer[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint" || funcName == "checkpoint")
          barriers.synchronized(barriers += qe.explainString(FormattedMode))
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    keys.foreach { k =>
      val (name, df) =
        if (k.startsWith("sql:")) {
          val key = k.stripPrefix("sql:")
          (s"sql_$key", SqlCatalog.sql(key)(spark, d))
        } else (k, SparkEntry.queries(k)(spark, d))
      Bridge.drainListeners(spark)
      write(s"${name}_$suffix.txt", df.queryExecution.explainString(FormattedMode))
      barriers.synchronized {
        barriers.zipWithIndex.foreach { case (p, i) =>
          write(s"${name}_${suffix}_barrier${i + 1}.txt", p)
        }
        barriers.clear()
      }
    }
    spark.stop()
  }
}
