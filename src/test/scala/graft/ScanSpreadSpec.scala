package graft

import graft.core.Tables

/** The compute-spread (Tables.spreadCompute) must only change how a
  * scan is parallelised, never which rows a query returns, and its
  * under-parallelism probe must see what the scan really runs. */
class ScanSpreadSpec extends SparkSpec {

  private def xxSpread(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("hashpartitioning(xxhash64")

  private def rowsWithSpread(e: String, on: Boolean): Vector[String] = {
    spark.conf.set("spark.graft.scan.spread", on.toString)
    try Graft.query(spark, sf, e).toJSON.collect().toVector.sorted
    finally spark.conf.unset("spark.graft.scan.spread")
  }

  test("a nested unordered positional read vetoes the spread of a heavy outer chain") {
    // the heavy split chain over `events` (a Project over the scan, so
    // the probe sees it) really spreads on its own …
    val outer = """$.events.map({id: event_id, parts: event_type.split("_")})"""
    assert(xxSpread(Graft.query(spark, sf, outer)))
    // … so a nested take/skip of the same table would read permuted
    // order: the spread wraps every table the expression resolves
    Seq(
      s"""$outer.equi_join($$.events.take(5).map({rid: event_id, v: value}), id, rid)""",
      s"""$outer.map({id, n: parts.len()})
         |.diff($$.events.skip(3).map({id: event_id, n: event_type.split("_").len()}))"""
        .stripMargin
    ).foreach { e =>
      assert(Graft.backend(spark, sf, e) == "relational", e)
      val spread = rowsWithSpread(e, on = true)
      assert(spread.nonEmpty, e)
      assert(spread == rowsWithSpread(e, on = false), e)
    }
  }

  test("a small file of many tiny row groups is one split, so a selected frame spreads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rowgroups").toFile
    try {
      spark.range(0, 20000).selectExpr("id", "cast(id * 7 as string) as s")
        .coalesce(1).write.option("parquet.block.size", "4096")
        .mode("overwrite").parquet(dir.getPath)
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head.getPath),
        spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val groups = try reader.getRowGroups.size() finally reader.close()
      // more row groups than cores: counting groups alone says "parallel enough"
      assert(groups >= spark.sparkContext.defaultParallelism, s"$groups row groups")
      val df = spark.read.parquet(dir.getPath).select("id", "s")
      assert(df.rdd.getNumPartitions == 1)
      assert(xxSpread(Tables.spreadCompute(df)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
