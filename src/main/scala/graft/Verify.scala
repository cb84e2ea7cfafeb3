package graft

import java.nio.file.{Files, Paths}

import graft.gate.{Contract, GateQuery}

/** Driver-run correctness dump: each gate row's result → parquet, plus
  * oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: restrict to the named queries (dev iteration;
    // the driver always passes exactly two args and gets the full dump)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // same confs as Bench (one definition, BenchSession) at verify's width
    val spark = BenchSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    for (GateQuery(name, build, _) <- SparkEntry.rows
         if only.isEmpty || only.contains(name)) {
      try build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // why each remaining no-oracle query is exempt, and WHICH hash-matched
    // contract row (or spec) verifies it instead — so a "no_oracle" row in
    // the correctness artifact is tied to its passing contract row by key,
    // machine-readably, in the same directory
    // (a Map, like oracleSql, so the key order is the artifact's historical one)
    val exempt = SparkEntry.rows
      .collect { case GateQuery(k, _, c: Contract) => k -> c }.toMap
      .map { case (k, Contract(row, why)) =>
        s"""${q(k)}: {"reason": ${q(why)}, "contract": ${q(row)}}"""
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_exempt.json"), exempt)
    spark.stop()
  }
}
