package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes `{key: {"sql": oracle SQL, "ties": [sort columns]}}` for the
  * benchmark's query keys, from `SparkEntry.oracleSql` and
  * [[Main.TieKeys]], for `gen_digests.py`.
  * Usage: Oracles <out.json> */
object Oracles {
  def main(args: Array[String]): Unit = {
    val keys = Main.OlapKeys ++ Main.CurationKeys
    val missing = keys.filterNot(graft.SparkEntry.oracleSql.contains)
    require(missing.isEmpty, s"no oracle SQL for: ${missing.mkString(", ")}")
    val json = Json.obj(keys.map(k => k -> Json.obj(Seq(
      "sql" -> Json.str(graft.SparkEntry.oracleSql(k)),
      "ties" -> Main.TieKeys.getOrElse(k, Nil).map(Json.str).mkString("[", ", ", "]")))))
    Files.write(Paths.get(args(0)), json.getBytes(UTF_8))
  }
}
