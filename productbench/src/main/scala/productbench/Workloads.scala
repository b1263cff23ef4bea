package productbench

import java.util.SplittableRandom

/** One query instance. `mode` says how it reaches the engine:
  *  - `collect` / `noop`: `Graft.query(text)` then `collect()` or the noop sink;
  *  - `catalog`: the catalog operator named `text`, to the noop sink;
  *  - `driver`: `Jetro.compile(text)` over JSON document `params("doc")`;
  *  - `spark_many`: `Jetro.jetroEvalMany(exprs)` per row of the JSON corpus.
  * `sourceRows` is the number of table rows or JSON records it consumes. */
final case class Q(
    template: String, mode: String, params: Seq[(String, Any)],
    exprs: Seq[String], sourceRows: Long) {
  def text: String = exprs.mkString("\n")
}

/** The workloads' query generators. Every literal comes from the seeded
  * stream, so a seed fixes the exact query sequence. */
object Workloads {

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream * 0xC2B2AE3D27D4EB4FL ^ i * 0x165667B19E3779F9L)

  private def rows(t: String*) = t.map(Gen.rows).sum
  private def cents(r: SplittableRandom, lo: Int, hi: Int): Long =
    lo * 100L + r.nextInt((hi - lo) * 100)
  private def money(c: Long): String =
    (if (c < 0) "-" else "") + f"${math.abs(c) / 100}%d.${math.abs(c) % 100}%02d"
  private def money(r: SplittableRandom, lo: Int, hi: Int): String = money(cents(r, lo, hi))

  // ── interactive: selective templates, each query text distinct ──

  // No template sorts without a take: a full sort_by adds range-sampling
  // jobs and lets execution, not compilation, dominate.
  val interactiveTemplates: Seq[String] = Seq(
    "i_customer_count", "i_orders_topk", "i_part_topk", "i_customer_page",
    "i_customer_count_by", "i_part_group", "i_customer_fstring",
    "i_customer_nation", "i_nation_card", "i_part_compr")

  def interactive(template: String, r: SplittableRandom): Q = template match {
    case "i_customer_count" =>
      val bal = money(r, -900, 9000); val seg = Gen.segments(r.nextInt(5)); val n = r.nextInt(25)
      Q(template, "collect", Seq("bal" -> bal, "seg" -> seg, "n" -> n),
        Seq(s"""$$.customer.filter(c_acctbal > $bal and c_mktsegment == "$seg" and c_nationkey != $n).count()"""),
        rows("customer"))
    case "i_orders_topk" =>
      val st = Gen.statuses(r.nextInt(3)); val lo = money(r, 1000, 490000); val k = 5 + r.nextInt(95)
      Q(template, "collect", Seq("st" -> st, "lo" -> lo, "k" -> k),
        Seq(s"""$$.orders{o_orderstatus == "$st" and o_totalprice > $lo}.sort_by(-o_orderkey).take($k).map({id: o_orderkey, total: o_totalprice, prio: o_orderpriority.lower(), tag: f"{o_orderstatus}-{o_orderpriority}", big: "big" if o_totalprice > 250000 else "small"})"""),
        rows("orders"))
    case "i_part_topk" =>
      val size = 1 + r.nextInt(50); val lo = money(r, 900, 999); val k = 5 + r.nextInt(95)
      Q(template, "collect", Seq("size" -> size, "lo" -> lo, "k" -> k),
        Seq(s"""$$.part.filter(p_size == $size and p_retailprice > $lo).sort_by(p_partkey).take($k).map({key: p_partkey, name: p_name.upper(), brand: p_brand, label: f"{p_brand}/{p_type}/{p_size}", big: "big" if p_size > 25 else "small"})"""),
        rows("part"))
    case "i_customer_page" =>
      val n = r.nextInt(25); val skip = r.nextInt(500); val k = 10 + r.nextInt(90)
      Q(template, "collect", Seq("n" -> n, "skip" -> skip, "k" -> k),
        Seq(s"""$$.customer.filter(c_nationkey == $n).sort_by(c_custkey).take(${skip + k}).skip($skip).map({id: c_custkey, bal: c_acctbal, line: f"{c_name}/{c_mktsegment}", sign: "neg" if c_acctbal < 0 else "pos"})"""),
        rows("customer"))
    case "i_customer_count_by" =>
      val c = 1 + r.nextInt(Gen.rows("customer").toInt - 1); val bal = money(r, -900, 9000)
      Q(template, "collect", Seq("c" -> c, "bal" -> bal),
        Seq(s"""$$.customer.filter(c_custkey < $c and c_acctbal > $bal).count_by(c_mktsegment)"""),
        rows("customer"))
    case "i_part_group" =>
      val size = 1 + r.nextInt(50); val lo = money(r, 900, 999)
      Q(template, "collect", Seq("size" -> size, "lo" -> lo),
        Seq(s"""$$.part.filter(p_size <= $size and p_retailprice > $lo).group_by(p_brand).transform_values(lambda v: {n: v.count(), hi: v.max(p_retailprice)})"""),
        rows("part"))
    case "i_customer_fstring" =>
      val n = r.nextInt(25); val bal = money(r, -900, 9000); val k = 5 + r.nextInt(95)
      Q(template, "collect", Seq("n" -> n, "bal" -> bal, "k" -> k),
        Seq(s"""$$.customer.filter(c_nationkey == $n and c_acctbal > $bal).sort_by(c_custkey).take($k).map({id: c_custkey, line: f"{c_name} [{c_mktsegment}] n={c_nationkey}", seg: c_mktsegment.lower(), sign: "neg" if c_acctbal < 0 else "pos", tag: f"c{c_custkey}-{c_nationkey}"})"""),
        rows("customer"))
    case "i_customer_nation" =>
      val lo = r.nextInt(Gen.rows("customer").toInt - 100); val w = 1 + r.nextInt(100)
      Q(template, "collect", Seq("lo" -> lo, "w" -> w),
        Seq(s"""[{id: c.c_custkey, nation: n.n_name} for c in $$.customer for n in $$.nation if c.c_nationkey == n.n_nationkey and c.c_custkey >= $lo and c.c_custkey < ${lo + w}]"""),
        rows("customer", "nation"))
    case "i_nation_card" =>
      val lo = r.nextInt(20); val hi = lo + 1 + r.nextInt(5)
      Q(template, "collect", Seq("lo" -> lo, "hi" -> hi),
        Seq(s"""$$.nation.filter(n_nationkey >= $lo and n_nationkey < $hi).map({id: n_nationkey, name: n_name.lower(), up: n_name.upper(), tag: f"{n_name}-{n_regionkey}", region: "emea" if n_regionkey == 3 else ("asia" if n_regionkey == 2 else "other"), len: n_name.len(), code: f"N{n_nationkey}R{n_regionkey}"})"""),
        rows("nation"))
    case "i_part_compr" =>
      val size = 1 + r.nextInt(50); val lo = cents(r, 900, 980); val mid = money(lo + 1000)
      Q(template, "collect", Seq("size" -> size, "lo" -> money(lo), "hi" -> money(lo + 2000), "mid" -> mid),
        Seq(s"""[{key: p.p_partkey, label: f"{p.p_brand}/{p.p_type}", tier: "a" if p.p_retailprice > $mid else "b", name: p.p_name.upper(), code: f"P{p.p_partkey}-{p.p_size}"} for p in $$.part if p.p_size == $size and p.p_retailprice >= ${money(lo)} and p.p_retailprice < ${money(lo + 2000)}]"""),
        rows("part"))
  }

  // ── batch: whole-table pipelines, one instance per template per seed ──

  val batchTemplates: Seq[String] = Seq(
    "b_arr_lane", "b_arr_seq", "b_events_rolling", "b_lineitem_group",
    "b_lineitem_shape", "b_minhash_pairs", "b_pack_sequences")

  def batch(template: String, r: SplittableRandom): Q = template match {
    case "b_arr_lane" =>
      val w = Gen.vocab(r.nextInt(Gen.vocab.size)); val k = 2 + r.nextInt(4)
      Q(template, "noop", Seq("w" -> w, "k" -> k),
        Seq(s"""$$.documents.map({k: doc_id, rm: text.split(" ").remove("$w").join("|"), tw: text.split(" ").take_while(@ != "$w").len(), wc: text.split(" ").window($k).len()})"""),
        rows("documents"))
    case "b_arr_seq" =>
      val k = 2 + r.nextInt(5)
      Q(template, "noop", Seq("k" -> k),
        Seq(s"""$$.documents.map({k: doc_id, zs: text.split(" ").map(@.len()).zscore().max(), rs: text.split(" ").map(@.len()).rolling_sum($k).compact().max()})"""),
        rows("documents"))
    case "b_events_rolling" =>
      val k = 2 + r.nextInt(15)
      Q(template, "noop", Seq("k" -> k),
        Seq(s"""$$.events.sort_by(event_id).map(user_id).rolling_sum($k)"""),
        rows("events"))
    case "b_lineitem_group" =>
      val key = Seq("l_returnflag", "l_linestatus", "l_linenumber")(r.nextInt(3))
      val d = r.nextInt(3) / 100.0
      Q(template, "noop", Seq("key" -> key, "d" -> f"$d%.2f"),
        Seq(f"""$$.lineitem.filter(l_discount >= $d%.2f).group_by($key).transform_values(lambda v: {n: v.count(), qty: v.sum(l_quantity), hi: v.max(l_extendedprice)})"""),
        rows("lineitem"))
    case "b_lineitem_shape" =>
      val q = r.nextInt(5)
      Q(template, "noop", Seq("q" -> q),
        Seq(s"""$$.lineitem.filter(l_quantity > $q).map({k: l_orderkey, ln: l_linenumber, tag: f"{l_returnflag}{l_linestatus}-{l_linenumber}", net: l_extendedprice * (1 - l_discount)})"""),
        rows("lineitem"))
    case "b_minhash_pairs" =>
      Q(template, "catalog", Seq(), Seq("q_minhash_pairs"), rows("documents"))
    case "b_pack_sequences" =>
      Q(template, "catalog", Seq(), Seq("q_pack_sequences"), rows("documents"))
  }

  // ── doc_json: the jexpr interpreter three ways ──

  /** Expressions over one `{"data": [...]}` document. */
  def docExpr(template: String, r: SplittableRandom): (Seq[(String, Any)], String) = template match {
    case "d_count" =>
      val s = r.nextInt(1000)
      (Seq("s" -> s), s"$$.data.filter(score > $s).len()")
    case "d_qty" =>
      val q = r.nextInt(9)
      (Seq("q" -> q), s"$$.data.filter(active == true).flat_map(items).filter(qty > $q).map(qty).sum()")
    case "d_cities" =>
      val s = r.nextInt(1000)
      (Seq("s" -> s), s"$$.data.filter(score > $s).map(user.addr.city).unique()")
    case "d_count_by" =>
      val s = r.nextInt(1000)
      (Seq("s" -> s), s"$$.data.filter(score > $s).count_by(user.addr.city)")
    case "d_page" =>
      val s = r.nextInt(900); val k = 5 + r.nextInt(45)
      (Seq("s" -> s, "k" -> k), s"""$$.data.filter(score > $s).sort_by(id).take($k).map(f"#{id} {user.name} {score}")""")
    case "d_tags" =>
      (Seq(), "$.data.filter(active).flat_map(tags).unique().len()")
  }

  val docTemplates = Seq("d_count", "d_qty", "d_cities", "d_count_by", "d_page", "d_tags")

  def driverQ(t: String, r: SplittableRandom): Q = {
    val doc = r.nextInt(Gen.driverDocs._1)
    val (ps, e) = docExpr(t, r)
    Q(t, "driver", ("doc" -> doc) +: ps, Seq(e), Gen.driverDocs._2)
  }

  def manyQ(r: SplittableRandom): Q = {
    val ts = Seq("d_count", "d_qty", "d_count_by")
    val (ps, es) = ts.map(t => docExpr(t, r)).unzip
    Q("d_many", "spark_many",
      ts.zip(ps).flatMap { case (t, p) => p.map { case (k, v) => s"$t.$k" -> v } },
      es, Gen.rowDocs._1.toLong * Gen.rowDocs._2)
  }

  def rowwiseQ(r: SplittableRandom): Q = {
    val lang = Gen.langs(r.nextInt(Gen.langs.size)); val n = r.nextInt(400)
    Q("d_rowwise", "collect", Seq("lang" -> lang, "n" -> n),
      Seq(s"""$$.documents.filter(lang == "$lang" and n_chars > $n).map({id: doc_id, nw: text.words().len().rec(@), blank: text.is_blank().rec(@)})"""),
      rows("documents"))
  }

  /** A doc_json cycle: each driver-side template twice, then one per-row
    * Spark query and one rowwise-rung query. */
  val docCycle: Seq[String] = docTemplates ++ docTemplates ++ Seq("d_many", "d_rowwise")

  def docJson(template: String, r: SplittableRandom): Q = template match {
    case "d_many"    => manyQ(r)
    case "d_rowwise" => rowwiseQ(r)
    case t           => driverQ(t, r)
  }

  /** The timed query stream of a workload: query `i` of seed `seed`. Each
    * workload cycles through its templates in seeded shuffled rounds, so the
    * mix is the same for every seed; interactive and doc_json draw fresh
    * literals for every query, batch repeats one instance per template. */
  final class Stream(workload: String, seed: Long) {
    private val batchQs: Map[String, Q] =
      batchTemplates.zipWithIndex.map { case (t, j) => t -> batch(t, rng(seed, 2, j)) }.toMap
    private val seen = scala.collection.mutable.HashSet[String]()

    private val cycle: Seq[String] = workload match {
      case "interactive" => interactiveTemplates
      case "batch"       => batchTemplates
      case "doc_json"    => docCycle
    }

    /** Queries per round: every round runs each entry of the cycle once. */
    def roundSize: Int = cycle.size

    private def template(i: Long): String =
      shuffled(cycle, rng(seed, 3, i / cycle.size))((i % cycle.size).toInt)

    def apply(i: Long): Q = workload match {
      case "interactive" =>
        // distinct texts: redraw the literals on the rare collision
        val t = template(i)
        Iterator.from(0).map(k => interactive(t, rng(seed, 1, i * 64 + k))).find(q => seen.add(q.text)).get
      case "batch"    => batchQs(template(i))
      case "doc_json" => docJson(template(i), rng(seed, 4, i))
    }

    /** Queries that warm the caches before timing: one per template, with
      * literals from a stream the timed loop never draws from. */
    def warmup: Seq[Q] = coverage(-1)

    /** One query per template, literals from stream `k`. */
    def coverage(k: Int): Seq[Q] = {
      def r(j: Int) = rng(seed, 10 + k, j)
      workload match {
        case "interactive" => interactiveTemplates.zipWithIndex.map { case (t, j) => interactive(t, r(j)) }
        case "batch" =>
          if (k < 0) batchTemplates.map(batchQs)
          else batchTemplates.zipWithIndex.map { case (t, j) => batch(t, r(j)) }
        case "doc_json" =>
          // the warm-up repeats the driver-side templates: JSON parsing and
          // evaluation need several passes before the JIT settles
          val reps = if (k < 0) 3 else 1
          (0 until reps).flatMap(n => docTemplates.zipWithIndex.map { case (t, j) => driverQ(t, r(j + 10 * n)) }) ++
            Seq(manyQ(r(100)), rowwiseQ(r(101)))
      }
    }
  }

  private def shuffled(xs: Seq[String], r: SplittableRandom): Seq[String] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq
  }
}
