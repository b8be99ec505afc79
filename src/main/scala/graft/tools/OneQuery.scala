package graft.tools

/** Single-query gate loop: dump one or more registry queries' parquet +
  * oracle SQL so the DuckDB compare can run on just those instead of the
  * full registry `graft.Verify` pass — the oracle-authoring iteration
  * loop (seconds instead of minutes).
  *
  * Usage: `sbt "runMain graft.tools.OneQuery <q_name>[,<q_name>...] [sfDir]
  * [outDir]"`, then compare with e.g.
  * `python3 scripts/check_verify.py <sfDir> <outDir>` (the out dir holds an
  * oracle_sql.json restricted to the named queries, so the checker only
  * runs those).
  */
object OneQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(2).getOrElse("/tmp/oneq")
    val spark = graft.LocalSpark()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      graft.queries.Registry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val entries = names.flatMap(n => graft.queries.Registry.oracle.get(n)
      .map(sql => s"${graft.Verify.jsonEscape(n)}: ${graft.Verify.jsonEscape(sql)}"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      entries.mkString("{", ", ", "}"))
    println(s"=== dumped ${names.length} queries to $outDir ===")
    spark.stop()
  }
}
