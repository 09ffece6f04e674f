package perfbench

import java.nio.file.{Files, Path, Paths}

/** Records the `tpch` workload's result digests.
  *
  *   perfbench.Digests <fixtureDir> <digestFile> <dumpDir>
  *
  * Runs every query once, writes `<digestFile>` and dumps each result as
  * parquet under `<dumpDir>/<query>/` next to `oracle_sql.json` and
  * `ran.json`, the layout `tools/check.py` compares against DuckDB. Which
  * digests that check confirmed is recorded by hand in the digest file's
  * "oracle" field (see README.md). */
object Digests {
  def main(argv: Array[String]): Unit = {
    val Array(fixture, digestFile, dump) = argv
    val a = Main.Args(work = Paths.get(dump).toAbsolutePath.getParent.resolve("digest-work"))
    val spark = Main.session(a, Runtime.getRuntime.availableProcessors)
    val oracles = graft.SparkEntry.oracleSql
    val dumpDir = Paths.get(dump)
    Files.createDirectories(dumpDir)
    val entries = Tpch.Queries.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, fixture)
      val rows = df.collect()
      df.write.mode("overwrite").parquet(dumpDir.resolve(q).toString)
      q -> Json.obj("sha256" -> Tpch.digest(df.schema.fieldNames.toSeq, rows),
        "rows" -> rows.length)
    }
    spark.stop()
    Files.writeString(dumpDir.resolve("oracle_sql.json"), Json.render(
      Tpch.Queries.filter(oracles.contains).map(q => q -> oracles(q)).toMap))
    Files.writeString(dumpDir.resolve("ran.json"), Json.render(Tpch.Queries))
    Files.writeString(Paths.get(digestFile), Json.render(Json.obj(
      "sf" -> Main.Sf,
      "queries" -> Json.obj(entries: _*))) + "\n")
  }
}
