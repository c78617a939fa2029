package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes `SparkEntry.oracleSql` for the benchmark's gates as JSON, so the
  * DuckDB side of the output check replays exactly the program's oracles.
  *
  * Usage: graftbench.DumpOracles <out.json>
  */
object DumpOracles {
  val gates: Seq[String] = Seq("o10_pipeline", "x2_jaccard_pairs",
    "x2_dedup_resolve", "x2_dedup_corpus", "x2_minhash_k64",
    "x8_bfs", "x8_sssp", "x8_ktruss") ++ Workloads.sqlGates

  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val missing = gates.filterNot(sql.contains)
    require(missing.isEmpty, s"gates without an oracle: ${missing.mkString(",")}")
    Files.write(Paths.get(args(0)),
      Json.value(gates.map(g => g -> sql(g)).toMap).getBytes(UTF_8))
  }
}
