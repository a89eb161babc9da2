package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * written by the sink it hands [[Bench.materialize]], plus
  * oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // positional: sfDir outDir [queryName...] — extra names restrict
    // the dump to those queries (targeted re-verification); flags:
    // --oracle-only writes just the oracle SQL JSONs (no query runs).
    val pos = args.filterNot(_.startsWith("--"))
    val Array(sfDir, outDir) = pos.take(2)
    val only = pos.drop(2).toSet
    val oracleOnly = args.contains("--oracle-only")
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query failures must surface in the ARTIFACT, not just stderr:
    // a query that errors at analysis time would otherwise simply have
    // no dump directory, and a correctness checker that iterates over
    // dumps (rather than the registry) under-reports the breakage.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val toRun =
      if (oracleOnly) Nil
      else SparkEntry.queries.keys.filter(n => only.isEmpty || only(n))
    toRun.foreach { name =>
      try Bench.materialize(spark, sfDir, name) { df =>
        df.coalesce(1).write.options(LocalFs.conf).mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      }
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.linesIterator.take(3).mkString(" ").take(500)
      }
    }
    def obj(kv: Iterable[(String, String)]): String = kv
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    val json = obj(SparkEntry.oracleSql)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Large-SF oracle variants (class-contracted graph trio) for the
    // sf3 gate — the driver ignores this file; check.py --scale-oracle
    // reads it instead of oracle_sql.json.
    val scaleJson = obj(SparkEntry.oracleSqlScale)
    Files.writeString(Paths.get(s"$outDir/oracle_sql_scale.json"), scaleJson)
    // Sampled-subgraph independence oracles (tools/slice_check.py) —
    // the engine-independent sf3 evidence for the graph trio.
    val sliceJson = obj(SparkEntry.oracleSqlSlice)
    Files.writeString(Paths.get(s"$outDir/oracle_sql_slice.json"), sliceJson)
    // Always written (empty object when clean) so "no errors recorded"
    // is distinguishable from "error channel didn't exist".
    val errJson = obj(errors)
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // Deliberately still exit 0: the partial dump is valid for every
    // query that DID run; errors.json is the per-query failure channel.
    spark.stop()
  }
}
