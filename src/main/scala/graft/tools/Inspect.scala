package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SimpleMode
import scala.util.control.NonFatal

/** Dev CLI: which rung a query runs on, why, and what Spark plans for it.
  *
  *   SPARK_GRAFT_SF_DIR=<data dir> sbt "runMain graft.tools.Inspect '<arg>' …"
  *
  * Each argument is a catalog query name, a `Bench.headline` lane, or
  * otherwise a jetro expression. For each it prints the rung (for an
  * expression off the relational rung, also the first bail reason),
  * the physical plan, and the plan's red flags. With no argument it
  * sweeps every catalog query plan for red flags.
  */
object Inspect {

  /** Scale red flags in a physical plan. They are HEURISTIC leads for a
    * plan audit: oracle queries legitimately carry total sorts and
    * bounded collects (SCALE.md has the per-operator contracts). */
  private def redFlags(plan: String): Seq[String] = Seq(
    "cartesian" -> plan.contains("CartesianProduct"),
    "bnlj" -> plan.contains("BroadcastNestedLoopJoin"),
    "single_exchange" -> plan.contains("Exchange SinglePartition"),
    "window" -> plan.contains("Window"),
    "global_sort_nolimit" -> (plan.contains("Sort [") &&
      !plan.contains("TakeOrdered") && plan.contains("Exchange rangepartitioning"))
  ).collect { case (f, true) => f }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", {
      System.err.println(
        "usage: SPARK_GRAFT_SF_DIR=<data dir> graft.tools.Inspect [<expr | query | lane> …]")
      sys.exit(2)
    })
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try
      if (args.isEmpty) sweep(spark, dir) else args.foreach(inspect(spark, dir, _))
    finally spark.stop()
  }

  private def sweep(spark: SparkSession, dir: String): Unit =
    graft.queries.Catalog.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
      try {
        val flags = redFlags(fn(spark, dir).queryExecution.executedPlan.toString)
        if (flags.nonEmpty) println(s"[sweep] $n: ${flags.mkString(",")}")
      } catch { case NonFatal(e) => println(s"[sweep] $n ERROR: ${e.getClass.getSimpleName}") }
    }

  private def inspect(spark: SparkSession, dir: String, arg: String): Unit = {
    println(s"======== $arg ========")
    val named = graft.queries.Catalog.queries.get(arg).map("catalog query" -> _)
      .orElse(graft.Bench.headline.find(_._1 == arg).map("bench lane" -> _._2))
    try {
      val df: DataFrame = named match {
        case Some((kind, build)) =>
          println(s"[inspect] $kind")
          build(spark, dir)
        case None =>
          val d = graft.Graft.decide(spark, dir, arg)
          println(s"[inspect] rung=${d.rung}")
          d.bail.foreach(b => println(s"[inspect] bail: $b"))
          graft.Graft.query(spark, dir, arg)
      }
      println(df.queryExecution.explainString(SimpleMode))
      val flags = redFlags(df.queryExecution.executedPlan.toString)
      println(s"[inspect] flags: ${if (flags.isEmpty) "none" else flags.mkString(",")}")
    } catch { case NonFatal(e) => println(s"[inspect] $arg failed: $e") }
  }
}
