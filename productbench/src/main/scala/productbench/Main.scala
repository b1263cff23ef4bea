package productbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Graft, SparkEntry}
import graft.jexpr.{Jetro, JValue}

/** JSON text for the run's output files. */
object Json {
  final case class Raw(json: String)
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x)     => apply(x)
    case Raw(j)      => j
    case s: String   => str(s)
    case d: Double   => if (d.isNaN || d.isInfinite) "null" else d.toString
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x           => x.toString
  }
  def obj(fs: Seq[(String, Any)]): String =
    fs.map { case (k, v) => s"${str(k)}:${apply(v)}" }.mkString("{", ",", "}")
}

/** One run of one workload: set up, run the closed loop for the given
  * seconds with one client thread, then write what the loop saw.
  *
  * Arguments (`--name value`): `workload`, `seed`, `seconds`, `trace` (0|1),
  * `out` (output directory); optional `data` (read these tables instead of
  * generating them), `coverage` (1: run a fixed list covering every template
  * instead of the timed loop), `stream` (n: generate the inputs, write the
  * first n queries and stop). */
object Main {

  /** Sum over heap pools of the occupancy after the most recent collection.
    * Read after full collections at the end of the timed loop: the maximum
    * over the loop's young collections depends on when they fall and spread
    * threefold between runs of one seed. */
  private def postGcHeap(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum

  final class Env(val spark: SparkSession, val data: String, val json: String,
      val docs: Vector[String], val tr: Tracer)

  private def outputPath(out: String, q: Q): String =
    s"$out/batch/${q.template}-${Integer.toHexString(q.text.hashCode)}.parquet"

  private def writeOutput(q: Q, e: Env, path: String): Unit = {
    val df = if (q.mode == "catalog") SparkEntry.queries(q.text)(e.spark, e.data)
      else Graft.query(e.spark, e.data, q.text)
    df.coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The JSON corpora: driver-side documents (returned) and the per-row column. */
  private def writeDocs(spark: SparkSession, out: String, json: String, seed: Long): Vector[String] = {
    val d = Gen.jsonCorpus(seed, 1, Gen.driverDocs)
    Gen.writeJson(spark, s"$out/json/driver_docs.parquet", d)
    Gen.writeJson(spark, json, Gen.jsonCorpus(seed, 2, Gen.rowDocs))
    d
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The query's result, reached only through the engine's public calls. */
  def run(q: Q, e: Env): Any = {
    val tr = e.tr
    q.mode match {
      case "collect" | "noop" =>
        if (tr.enabled) tr("jexpr.parse")(graft.jexpr.Parser.parse(q.text))
        val df = tr("graft.compile")(Graft.query(e.spark, e.data, q.text))
        if (q.mode == "noop") tr("exec.action")(noop(df)) else tr("exec.action")(df.collect())
      case "catalog" =>
        val df = tr("graft.compile")(SparkEntry.queries(q.text)(e.spark, e.data))
        tr("exec.action")(noop(df))
      case "driver" =>
        val doc = e.docs(q.params.toMap.apply("doc").asInstanceOf[Int])
        val c = tr("jexpr.parse")(Jetro.compile(q.text))
        val v = tr("jexpr.json_parse")(JValue.parse(doc))
        tr("jexpr.eval")(c.evalValue(v))
      case "spark_many" =>
        val df = tr("graft.compile")(e.spark.read.parquet(e.json)
          .select(col("doc_id"), Jetro.jetroEvalMany(q.exprs, col("json")).as("r")))
        tr("exec.action")(df.collect())
    }
  }

  /** The result as JSON; batch results were sent to the noop sink and are
    * written again as parquet after the loop. */
  private def resultJson(r: Any): Any = r match {
    case rows: Array[Row] => rows.toSeq.map(x => Json.Raw(x.json))
    case v: JValue        => Json.Raw(v.render)
    case _                => None
  }

  private def session(cores: Int, out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("productbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def clearCaches(spark: SparkSession): Unit = {
    Graft.clearRowwiseCache()
    spark.catalog.clearCache()
  }

  def main(args: Array[String]): Unit = {
    val entered = System.nanoTime()
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    require(Gen.tables.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val out = new File(a("out")).getAbsolutePath
    val coverage = a.get("coverage").contains("1")
    val data = a.get("data").map(new File(_).getAbsolutePath).getOrElse(s"$out/data")
    val rounds = if (trace || coverage) 1 else 3
    val cores = Runtime.getRuntime.availableProcessors
    val json = s"$out/json/row_docs.parquet"
    new File(out).mkdirs()

    val stream = new Workloads.Stream(workload, seed)
    if (a.contains("stream")) {
      // the inputs and the first queries, for the self-test's determinism check
      val spark = session(cores, out)
      Gen.write(spark, data, workload, seed)
      if (workload == "doc_json") writeDocs(spark, out, json, seed)
      val pw = new PrintWriter(s"$out/stream.jsonl", "UTF-8")
      (0L until a("stream").toLong).map(stream(_)).foreach(q => pw.println(Json.obj(Seq(
        "template" -> q.template, "params" -> Json.Raw(Json.obj(q.params)), "exprs" -> q.exprs))))
      pw.close()
      spark.stop()
      return
    }

    // ── set-up, `rounds` times: session, inputs, warm-up ──
    var env: Env = null
    var warmS = 0.0
    val setups = (1 to rounds).map { r =>
      if (env != null) env.spark.stop()
      val t0 = if (r == 1) entered else System.nanoTime()
      val spark = session(cores, out)
      if (!a.contains("data")) Gen.write(spark, data, workload, seed)
      val docs = if (workload == "doc_json") writeDocs(spark, out, json, seed) else Vector()
      env = new Env(spark, data, json, docs, new Tracer(false))
      val w0 = System.nanoTime()
      // batch results go to the noop sink when timed, so the warm-up
      // writes each batch query's result once, for the correctness check
      stream.warmup.foreach { q =>
        try {
          clearCaches(spark)
          if (workload == "batch") writeOutput(q, env, outputPath(out, q)) else run(q, env)
        } catch { case NonFatal(x) => System.err.println(s"[productbench] warm-up ${q.template}: $x") }
      }
      warmS = (System.nanoTime() - w0) / 1e9
      (System.nanoTime() - t0) / 1e9
    }
    val spark = env.spark
    val tr = new Tracer(trace)
    val counters = new Counters
    if (trace) Plans.register(spark, counters)
    val live = new Env(spark, data, json, env.docs, tr)
    val rowwise = Graft.rowwiseCounters(spark)

    // ── the timed loop (or the coverage list) ──
    final case class Done(i: Long, q: Q, ns: Long, result: Any, error: Option[String],
        traced: Boolean, layers: Seq[(String, Any)])
    val done = scala.collection.mutable.ArrayBuffer[Done]()
    val coverageList: Seq[Q] =
      if (coverage) (0 until 3).flatMap(k => stream.coverage(k)) else Seq()
    val loop0 = System.nanoTime()
    val deadline = loop0 + (seconds * 1e9).toLong
    var i = 0L
    // batch times whole rounds of its pipelines, as many as fit in `seconds`
    // at the warm-up's pace and at least two, so neither the mix nor the
    // number of samples depends on where the clock runs out
    val batchQueries =
      stream.roundSize * math.max(2L, math.round(seconds / math.max(warmS, 0.1)))
    // the others run until the deadline and then finish the round in flight,
    // so every run times whole rounds and the same template mix
    def more: Boolean =
      if (coverage) i < coverageList.size
      else if (workload == "batch") i < batchQueries
      else System.nanoTime() < deadline || i % stream.roundSize != 0
    while (more) {
      val q = if (coverage) coverageList(i.toInt) else stream(i)
      // traced runs alternate traced and untraced queries (shifted every ten,
      // so a template at a fixed position in a cycle gets both); the untraced
      // half gives trace.overhead_frac
      val traced = trace && (i + i / 10) % 2 == 0
      tr.qid = i
      clearCaches(spark)
      val (cg0, rw0, er0) = (Plans.codegen(), rowwise.evaluated.value, rowwise.errored.value)
      val t0 = System.nanoTime()
      val (res, err) =
        try (if (traced) tr("query")(run(q, live)) else run(q, env), None)
        catch { case NonFatal(x) => (null, Some(s"${x.getClass.getSimpleName}: ${x.getMessage}")) }
      val ns = System.nanoTime() - t0
      if (trace) org.apache.spark.productbench.BusDrain(spark.sparkContext)
      val (counts, spans) = if (trace) counters.take(i) else (Seq(), Seq())
      val layers = if (!traced && !coverage) Seq() else {
        tr.spans ++= spans
        val cg1 = Plans.codegen()
        // named outside every span: backend compiles the expression again
        val rung = if (q.mode == "collect" || q.mode == "noop")
          Some(Graft.backend(spark, data, q.text)) else None
        counts ++ Seq(
          "codegen_ns" -> (cg1._1 - cg0._1), "codegen_classes" -> (cg1._2 - cg0._2),
          "rowwise_rows" -> (rowwise.evaluated.value - rw0),
          "rowwise_errored_rows" -> (rowwise.errored.value - er0), "rung" -> rung)
      }
      done += Done(i, q, ns, res, err, traced, layers)
      i += 1
    }
    val loopNs = System.nanoTime() - loop0
    // the smallest of three full collections, each after a pause that lets
    // Spark's context cleaner release what the last one made unreachable
    clearCaches(spark)
    val heap = (1 to 3).map { _ => System.gc(); Thread.sleep(200); postGcHeap() }.min

    // ── outputs ──
    if (coverage && workload == "batch")
      done.foreach(d => writeOutput(d.q, env, outputPath(out, d.q)))
    val pw = new PrintWriter(s"$out/queries.jsonl", "UTF-8")
    done.foreach { d =>
      pw.println(Json.obj(Seq(
        "i" -> d.i, "template" -> d.q.template, "mode" -> d.q.mode,
        "params" -> Json.Raw(Json.obj(d.q.params)), "exprs" -> d.q.exprs,
        "latency_ms" -> d.ns / 1e6, "source_rows" -> d.q.sourceRows,
        "error" -> d.error, "traced" -> d.traced,
        "result" -> resultJson(d.result), "output" -> (if (workload == "batch") Some(outputPath(out, d.q)) else None),
        "oracle" -> (if (d.q.mode == "catalog") SparkEntry.oracleSql.get(d.q.text) else None),
        "layers" -> Json.Raw(Json.obj(d.layers)))))
    }
    pw.close()
    if (trace) {
      val sp = new PrintWriter(s"$out/spans.jsonl", "UTF-8")
      tr.spans.foreach(s => sp.println(Json.obj(Seq(
        "qid" -> s.qid, "name" -> s.name, "start" -> s.start, "end" -> s.end))))
      sp.close()
    }
    val runJson = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "setup_s" -> setups, "loop_s" -> loopNs / 1e9, "heap_live_mb" -> heap / 1048576.0,
      "data" -> data, "json" -> json))
    java.nio.file.Files.writeString(new File(s"$out/run.json").toPath, runJson)
    spark.stop()
  }
}
