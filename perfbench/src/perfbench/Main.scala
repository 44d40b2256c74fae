package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --spec <workloads.json> --work <scratch dir> --report <file>
  * [--spans <file>] [--threads <n>]`. Writes one JSON report; the
  * wrapper `run.py` turns it into the benchmark's result line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spec = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(a("spec")))))
    val name = a("workload")
    val params = spec \ "workloads" \ name
    val threads = a.getOrElse("threads", "4").toInt
    val work = Paths.get(a("work"))
    val spark = graft.GraftSession.builder(threads.toString)
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    def workload(cfg: Config): Workload = cfg.workload match {
      case "point_search" => new PointSearch(spark, cfg)
      case "batch_scan" => new BatchScan(spark, cfg)
      case "search_under_writes" => new SearchUnderWrites(spark, cfg)
    }
    val report =
      try {
        if (name == "class-archive") {
          // Loads the classes every workload uses, on small inputs, so
          // the JVM can archive them (run.py's class-data-sharing step).
          val small = JObject("rows" -> JInt(2000))
          (spec \ "workloads").asInstanceOf[JObject].obj.foreach { case (w, p) =>
            workload(Config(w, 1, 1, trace = true, threads, work.resolve(w), p merge small)).run()
          }
          Map("workload" -> name)
        } else {
          require(params != JNothing, s"unknown workload $name")
          val r = workload(Config(name, a("seed").toLong, a("seconds").toDouble,
            a("trace") == "1", threads, work, params)).run()
          val metrics = r("metrics").asInstanceOf[Map[String, Any]]
          // Set-up runs from process start: session start plus the
          // collection's set-up.
          r ++ Map("session_start_s" -> sessionS, "metrics" ->
            (metrics + ("setup_s" -> (sessionS + metrics("setup_s").asInstanceOf[Double]))))
        }
      } finally spark.stop()
    Files.write(Paths.get(a("report")), Json.render(report - "span_lines").getBytes)
    a.get("spans").foreach { p =>
      val lines = report.getOrElse("span_lines", Nil).asInstanceOf[Seq[String]]
      Files.write(Paths.get(p), lines.asJava)
    }
  }
}

final case class Config(workload: String, seed: Long, seconds: Double,
    trace: Boolean, threads: Int, work: Path, p: JValue) {
  def int(k: String): Int = (p \ k) match {
    case JInt(n) => n.toInt
    case other => throw new IllegalArgumentException(s"$workload.$k: $other")
  }
  def str(k: String): String = (p \ k).asInstanceOf[JString].s
}

/** Latencies, counts and failures of the measured window. */
final class Recorder {
  val lat = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val failures = new ConcurrentLinkedQueue[String]()
  @volatile var recording = false

  def add(kind: String, ms: Double): Unit =
    if (recording) lat.computeIfAbsent(kind, _ => new ConcurrentLinkedQueue()).add(ms)

  /** Runs one operation: times it, and counts it as failed when it
    * throws or `check` finds the answer wrong.
    */
  def op[T](kind: String)(body: => T)(check: T => Option[String]): Unit = {
    val t0 = System.nanoTime()
    val verdict =
      try {
        val out = body
        val ms = (System.nanoTime() - t0) / 1e6
        add(kind, ms)
        check(out)
      } catch { case e: Exception => Some(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    count(verdict.map(m => s"$kind: $m"))
  }

  def count(failure: Option[String]): Unit = if (recording) {
    attempted.incrementAndGet()
    failure.foreach { m => failed.incrementAndGet(); if (failures.size < 20) failures.add(m) }
  }

  def samples(kinds: String*): Seq[Double] =
    kinds.flatMap(k => Option(lat.get(k)).map(_.asScala.toSeq).getOrElse(Nil)).sorted
}

object Stats {
  /** Linear-interpolated percentile of sorted values. */
  def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val x = p * (sorted.size - 1)
      val lo = x.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
    }
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Shared set-up, measurement window and report of a workload. */
abstract class Workload(val spark: SparkSession, val cfg: Config) {
  val data = new Data(cfg.seed, cfg.int("dim"), cfg.int("centres"))
  val rows: Int = cfg.int("rows")
  val k: Int = cfg.int("k")
  val rec = new Recorder
  // Off until the traced half of the window: set-up is never traced.
  val tracer = new Tracer(false, spark.sparkContext)
  val listener: Option[JobListener] =
    if (cfg.trace) Some(new JobListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)
  val schema: StructType
  /** Operation kinds whose latency is `op_p50_ms` / `op_p90_ms`: each
    * kind's percentile, averaged over the kinds.
    */
  val primary: Seq[String]
  /** Extra per-workload metrics, named as the workload documents them. */
  def extraMetrics(): Map[String, Any]
  /** User bytes of the rows live at the end of the window. */
  def userBytes(): Double

  lazy val ids: Array[Long] = Array.tabulate(rows)(_.toLong)
  lazy val vecs: Array[Array[Float]] = Array.tabulate(rows)(i => data.baseVec(i))
  lazy val tags: Array[Int] = Array.tabulate(rows)(i => data.tag(i))
  def filterExpr: String = cfg.str("filter")
  lazy val filterCut: Int = filterExpr.stripPrefix("tag < ").trim.toInt
  def passes(tag: Int): Boolean = tag < filterCut

  /** Build one collection from scratch: insert, index builds, warm-up.
    * Returns per-phase seconds.
    */
  def setupOnce(catalogDir: String): Map[String, Double]
  /** Run operations until `deadline` (System.nanoTime). */
  def measure(deadline: Long): Unit
  /** Checks after the window (counted as operations). */
  def finalChecks(): Unit = ()
  /** Work before the timed set-up: the exact answers. */
  def prepare(): Unit = ()

  /** Exact filtered top-k; the predicate reads only local values, so
    * the worker threads never touch this object's lazy fields.
    */
  def filteredTruth(qs: IndexedSeq[Array[Float]]): IndexedSeq[Array[(Long, Double)]] = {
    val t = tags
    val cut = filterCut
    Exact.topKAll(qs, ids, vecs, k, cfg.threads, i => t(i) < cut)
  }

  var windowS: Double = Double.NaN
  var collection: graft.store.Collection = _

  /** Base rows as a DataFrame generated in Spark tasks from the seed. */
  def baseFrame(withText: Boolean): DataFrame = {
    val d = data
    val n = rows
    val rdd = spark.sparkContext.parallelize(0 until n, cfg.threads).map { i =>
      if (withText) Row(i.toLong, d.baseVec(i), d.tag(i), d.text(i))
      else Row(i.toLong, d.baseVec(i), d.tag(i))
    }
    spark.createDataFrame(rdd, schema)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Progress on stderr (the JVM log). */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${System.currentTimeMillis() / 1e3}%.3f $msg")

  def run(): Map[String, Any] = {
    val (_, prepS) = timed(prepare())
    log(s"exact answers in $prepS s")
    // One set-up a run: a cold one costs 20-35 s on a 4-core box, and a
    // full measurement (22 runs a workload) leaves no room for a median
    // of several.
    val catalogDir = cfg.work.resolve("catalog").toString
    val (phases, setupS) = timed(setupOnce(catalogDir))
    log(s"setup done in $setupS s: $phases")
    val gcBefore = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    rec.recording = true
    val t0 = System.nanoTime()
    val window = (cfg.seconds * 1e9).toLong
    // A traced run splits its window: an untraced half, then a traced
    // half. Their throughput difference is the tracing overhead.
    measure(t0 + (if (cfg.trace) window / 2 else window))
    val t1 = System.nanoTime()
    val untracedOps = opsDone()
    if (cfg.trace) {
      tracer.on = true
      measure(t1 + window / 2)
    }
    val t2 = System.nanoTime()
    windowS = (t2 - t0) / 1e9
    val overhead = 1.0 - ((opsDone() - untracedOps) / ((t2 - t1) / 1e9)) /
      (untracedOps / ((t1 - t0) / 1e9))
    val gc = gcMs() - gcBefore
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    finalChecks()
    rec.recording = false
    val diskBytes = treeBytes(Paths.get(catalogDir))
    val prim = rec.samples(primary: _*)
    val ops = opsDone()
    val latencies = rec.lat.asScala.keys.toSeq.sorted.map { kind =>
      val xs = rec.samples(kind)
      kind -> Map("n" -> xs.size, "p50_ms" -> Stats.pct(xs, 0.5),
        "p90_ms" -> Stats.pct(xs, 0.9), "mean_ms" -> Stats.mean(xs))
    }.toMap
    val metrics = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> ops / windowS,
      "op_p50_ms" -> Stats.mean(primary.map(kd => Stats.pct(rec.samples(kd), 0.5))),
      "op_p90_ms" -> Stats.mean(primary.map(kd => Stats.pct(rec.samples(kd), 0.9))),
      "op_samples" -> prim.size,
      "failed_ratio" -> rec.failed.get.toDouble / math.max(1L, rec.attempted.get),
      "peak_rss_mb" -> vmHwmMb(),
      "disk_bytes_per_user_byte" -> diskBytes / userBytes()) ++ extraMetrics()
    val (layers, spanLines) = layerReport(phases, gc, heapPeak, diskBytes, overhead)
    Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
      "window_s" -> windowS, "threads" -> cfg.threads, "attempted" -> rec.attempted.get,
      "failed" -> rec.failed.get, "failures" -> rec.failures.asScala.toSeq,
      "setup" -> phases, "latency" -> latencies,
      "metrics" -> metrics, "layers" -> layers, "span_lines" -> spanLines)
  }

  /** Per-layer metrics (traced runs): means over the primary operations,
    * plus per-operation-type breakdowns.
    */
  def layerReport(phases: Map[String, Double], gc: Double, heapPeak: Double,
      diskBytes: Double, overhead: Double): (Map[String, Any], Seq[String]) = {
    val builds = phases.filter(_._1.startsWith("index.build_s."))
    val base = builds ++ Map("index.build_s" -> builds.values.sum,
      "store.insert_s" -> phases("store.insert_s"),
      "jvm.gc_ms" -> gc, "jvm.heap_used_mb" -> heapPeak,
      "store.disk_bytes" -> diskBytes, "trace.overhead_ratio" -> overhead)
    listener match {
      case None => (base, Nil)
      case Some(l) =>
        l.drain(spark.sparkContext)
        val spans = tracer.spans.asScala.toSeq
        val jobs = l.jobs.values.asScala.toSeq
        val perOp = Layers.perOp(spans, jobs)
        val byKind = perOp.groupBy(_._1.name.stripPrefix("op."))
        def meanOf(ms: Seq[Map[String, Double]]): Map[String, Double] =
          ms.flatMap(_.keys).distinct.map(k => k -> Stats.mean(ms.flatMap(_.get(k)))).toMap
        val kinds = byKind.map { case (kind, xs) =>
          kind -> (meanOf(xs.map(_._2)) + ("ops" -> xs.size.toDouble))
        }
        val prim = meanOf(perOp.filter(x => primary.contains(x._1.name.stripPrefix("op."))).map(_._2))
        val hits = prim.getOrElse("hits", Double.NaN)
        val flat = prim.filter(_._1.contains('.')) ++ Map(
          "ann.rows_scanned_per_hit" -> prim.getOrElse("spark.records_read", 0.0) / hits)
        (base ++ flat ++ layerExtras(kinds) ++ Map("per_op_type" -> kinds),
          Layers.spanLines(spans, jobs).toSeq)
    }
  }

  /** Workload-specific layer metrics from the per-op-type means. */
  def layerExtras(kinds: Map[String, Map[String, Double]]): Map[String, Double] = Map.empty

  def opsDone(): Long = rec.lat.values.asScala.map(_.size.toLong).sum

  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.toDouble).sum

  def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def treeBytes(p: Path): Double = {
    val st = Files.walk(p)
    try st.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
    finally st.close()
  }

  // ---- calls into the engine, each under its layer's span -------------

  import graft.operators.CollectionSearch
  import graft.store.IndexStore

  /** Dense top-k search; returns hit pks in rank order. In traced runs
    * the index, store and expr layers are first called on their own
    * (the same calls the search makes) so each gets its own span.
    */
  def search(q: Array[Float], filter: String, nprobe: Int, kk: Int = k): Seq[Long] =
    tracer.span("op.search") {
      if (tracer.on) probes(filter, withIndex = true)
      val df = tracer.span("operators.plan") {
        CollectionSearch.search(spark, collection, "emb", q.toSeq, kk, filter,
          Map("nprobe" -> nprobe.toString))
      }
      val hits = tracer.span("operators.collect")(df.collect()).map(_.getAs[Long]("id")).toSeq
      tracer.note("hits", Map("hits" -> hits.size.toDouble))
      hits
    }

  /** The layer calls a search makes before its own plan: definition,
    * index ensure and serve, filter compile.
    */
  def probes(filter: String, withIndex: Boolean): Unit = {
    tracer.span("store.definition")(collection.definition)
    if (withIndex) {
      val (served, builtSeq) = indexFamily match {
        case "IVF_SQ8" =>
          val b = tracer.span("index.ensure")(IndexStore.ensureSq8(spark, collection, "emb", "L2", nlist))
          (tracer.span("index.serve")(IndexStore.serveSq8(spark, collection, "emb", b)), b.builtSeq)
        case _ =>
          val b = tracer.span("index.ensure")(IndexStore.ensureIvf(spark, collection, "emb", "L2", nlist))
          (tracer.span("index.serve")(IndexStore.serveIvf(spark, collection, "emb", b)), b.builtSeq)
      }
      if (filter.nonEmpty)
        tracer.span("expr.compile")(graft.expr.MilvusExpr.compile(filter, served))
      val lag = (collection.committedSeq - builtSeq).toDouble
      tracer.note("index.state", Map("index.seq_lag" -> lag,
        "index.stale_served_ratio" -> (if (lag > 0) 1.0 else 0.0)))
    }
  }

  def indexFamily: String = cfg.str("index")
  def nlist: Int = cfg.int("nlist")

  def indexDef: graft.store.IndexDef =
    graft.store.IndexDef("emb", indexFamily, Some("L2"), Map("nlist" -> nlist.toString))

  /** Checks a ranked dense result: k distinct known pks, the filter
    * holds, and recall against the exact answer is recorded.
    */
  def checkDense(hits: Seq[Long], want: Array[(Long, Double)], filtered: Boolean,
      tagOf: Long => Option[Int], recalls: ConcurrentLinkedQueue[Double]): Option[String] =
    if (hits.size != want.length) Some(s"${hits.size} hits, expected ${want.length}")
    else if (hits.distinct.size != hits.size) Some("duplicate pks in one result")
    else hits.find(h => tagOf(h).isEmpty) match {
      case Some(h) => Some(s"unknown pk $h")
      case None if filtered && hits.exists(h => !passes(tagOf(h).get)) =>
        Some("a hit fails the filter")
      case None =>
        recalls.add(Exact.recall(hits, want, 10)); None
    }
}

/** One client: a fixed cycle of dense searches (half filtered), one BM25
  * text search and a two-page iterator walk over an IVF_FLAT + BM25
  * collection.
  */
final class PointSearch(s: SparkSession, c: Config) extends Workload(s, c) {
  val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("emb", ArrayType(FloatType)), StructField("tag", IntegerType),
    StructField("text", StringType)))
  val primary = Seq("search")
  val nprobe = cfg.int("nprobe")
  val pageSize = cfg.int("page_size")
  val pages = cfg.int("pages")
  val pool = cfg.int("query_pool")
  val queries: IndexedSeq[Array[Float]] =
    (0 until pool).map(i => data.around(i % data.centres, 10, i))
  val textQueries: IndexedSeq[String] = (0 until pool).map(i => data.textQuery(i))
  lazy val truthAll = Exact.topKAll(queries, ids, vecs, k, cfg.threads)
  lazy val truthFiltered = filteredTruth(queries)
  lazy val truthIter = Exact.topKAll(queries, ids, vecs, pageSize * pages, cfg.threads)
  val recalls = new ConcurrentLinkedQueue[Double]()
  val textFirst = new ConcurrentHashMap[String, Seq[(Long, Double)]]()
  def docWords(pk: Long): Set[String] = data.text(pk).split(" ").toSet

  override def prepare(): Unit = { truthAll; truthFiltered; truthIter; () }

  def setupOnce(dir: String): Map[String, Double] = {
    val cat = new graft.store.Catalog(dir)
    collection = cat.createCollection(graft.store.CollectionDef("c", Seq(
      graft.store.FieldDef("id", LongType, nullable = false, isPrimary = true),
      graft.store.FieldDef("emb", ArrayType(FloatType), dim = Some(data.dim)),
      graft.store.FieldDef("tag", IntegerType),
      graft.store.FieldDef("text", StringType))))
    val (_, ins) = timed(collection.insert(spark, baseFrame(withText = true)))
    val (_, ivf) = timed(collection.createIndex(spark, indexDef))
    val (_, bm25) = timed(collection.createIndex(spark, graft.store.IndexDef("text", "BM25")))
    val (_, warm) = timed { dense(0, filtered = true); text(0); iterate(0) }
    Map("store.insert_s" -> ins, "index.build_s.ivf_flat" -> ivf,
      "index.build_s.bm25" -> bm25, "warmup_s" -> warm)
  }

  def measure(deadline: Long): Unit = {
    var i = 1
    while (System.nanoTime() < deadline) { cycle(i); i += 1 }
  }

  def tagOf(pk: Long): Option[Int] =
    if (pk >= 0 && pk < rows) Some(tags(pk.toInt)) else None

  def dense(qi: Int, filtered: Boolean): Unit = {
    val q = queries(qi)
    rec.op("search")(search(q, if (filtered) filterExpr else "", nprobe)) { hits =>
      checkDense(hits, (if (filtered) truthFiltered else truthAll)(qi), filtered,
        tagOf, recalls)
    }
  }

  def text(qi: Int): Unit = {
    val query = textQueries(qi)
    val words = query.split(" ").toSet
    rec.op("text")(tracer.span("op.text") {
      val df = tracer.span("operators.plan")(
        graft.operators.CollectionSearch.searchText(spark, collection, "text", query, k))
      tracer.span("operators.collect")(df.collect())
        .map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"))).toSeq
    }) { hits =>
      val first = textFirst.putIfAbsent(query, hits)
      if (hits.size != k) Some(s"${hits.size} text hits, expected $k")
      else if (hits.sliding(2).exists { case Seq(a, b) => b._2 > a._2 case _ => false })
        Some("text scores increase")
      else if (first != null && first != hits) Some(s"text query '$query' changed its answer")
      else hits.find(h => tagOf(h._1).isEmpty || (docWords(h._1) & words).isEmpty)
        .map(h => s"text hit ${h._1} holds no query word")
    }
  }

  def iterate(qi: Int): Unit = {
    val q = queries(qi).toSeq
    var after: Option[(Double, Any)] = None
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    (1 to pages).foreach { p =>
      rec.op("iterate_page")(tracer.span("op.iterate_page") {
        val df = tracer.span("operators.plan")(
          graft.operators.CollectionSearch.searchIterator(spark, collection, "emb", q,
            pageSize, after, searchParams = Map("nprobe" -> nprobe.toString)))
        tracer.span("operators.collect")(df.collect())
          .map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"))).toSeq
      }) { page =>
        val prevMax = if (seen.isEmpty) Double.NegativeInfinity else seen.map(_._2).max
        val err =
          if (page.size != pageSize) Some(s"page $p has ${page.size} rows")
          else if (page.exists(h => seen.exists(_._1 == h._1))) Some(s"page $p repeats a pk")
          else if (page.exists(_._2 < prevMax)) Some(s"page $p scores precede page ${p - 1}")
          else None
        seen ++= page
        page.lastOption.foreach(h => after = Some((h._2, h._1)))
        err.orElse {
          if (p < pages) None
          else {
            val got = seen.sortBy(h => (h._2, h._1)).map(_._1).toSeq
            if (Exact.sameRanking(got, truthIter(qi), pk => Exact.l2(queries(qi), vecs(pk.toInt)))) None
            else Some("iterator pages differ from the exact ranking")
          }
        }
      }
    }
  }

  /** The fixed cycle: 4 dense searches, 1 text search, 1 iterator walk. */
  def cycle(i: Int): Unit = {
    val b = i * 4
    dense(b % pool, filtered = false)
    dense((b + 1) % pool, filtered = true)
    text(i % pool)
    dense((b + 2) % pool, filtered = false)
    iterate(i % pool)
    dense((b + 3) % pool, filtered = true)
  }

  def extraMetrics(): Map[String, Any] = {
    val srch = rec.samples("search")
    Map("recall_at_10" -> Stats.mean(recalls.asScala),
      "search_p50_ms" -> Stats.pct(srch, 0.5), "search_p90_ms" -> Stats.pct(srch, 0.9),
      "text_p50_ms" -> Stats.pct(rec.samples("text"), 0.5),
      "iterate_page_p50_ms" -> Stats.pct(rec.samples("iterate_page"), 0.5))
  }

  def userBytes(): Double =
    rows * (8.0 + 4 * data.dim + 4) + (0 until rows).map(i => data.text(i).length).sum

  override def layerExtras(kinds: Map[String, Map[String, Double]]): Map[String, Double] =
    kinds.get("text").map(t => Map(
      "text.records_read" -> t.getOrElse("spark.records_read", 0.0),
      "text.tasks" -> t.getOrElse("spark.tasks", 0.0))).getOrElse(Map.empty)
}

/** One client alternating nq-query batches on the exact route and on
  * the IVF route.
  */
final class BatchScan(s: SparkSession, c: Config) extends Workload(s, c) {
  val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("emb", ArrayType(FloatType)), StructField("tag", IntegerType)))
  val primary = Seq("batch_exact", "batch_ivf")
  val nq = cfg.int("nq")
  val nprobe = cfg.int("nprobe")
  val batches = cfg.int("batch_pool")
  val queries: IndexedSeq[Array[Float]] =
    (0 until nq * batches).map(i => data.around(i % data.centres, 11, i))
  lazy val truth = Exact.topKAll(queries, ids, vecs, k, cfg.threads)
  val recalls = new ConcurrentLinkedQueue[Double]()
  val vectors = new AtomicLong(0)

  override def prepare(): Unit = { truth; () }

  def setupOnce(dir: String): Map[String, Double] = {
    val cat = new graft.store.Catalog(dir)
    collection = cat.createCollection(graft.store.CollectionDef("c", Seq(
      graft.store.FieldDef("id", LongType, nullable = false, isPrimary = true),
      graft.store.FieldDef("emb", ArrayType(FloatType), dim = Some(data.dim)),
      graft.store.FieldDef("tag", IntegerType))))
    val (_, ins) = timed(collection.insert(spark, baseFrame(withText = false)))
    val (_, ivf) = timed(collection.createIndex(spark, indexDef))
    val (_, warm) = timed { batch(0, exact = true); batch(1, exact = false) }
    Map("store.insert_s" -> ins, "index.build_s.ivf_flat" -> ivf, "warmup_s" -> warm)
  }

  def batch(b: Int, exact: Boolean): Unit = {
    val qs = (0 until nq).map(j => (s"q$j", queries(b * nq + j).toSeq))
    val kind = if (exact) "batch_exact" else "batch_ivf"
    rec.op(kind)(tracer.span(s"op.$kind") {
      if (tracer.on) probes("", withIndex = !exact)
      val params = if (exact) Map.empty[String, String] else Map("nprobe" -> nprobe.toString)
      val df = tracer.span("operators.plan")(
        graft.operators.CollectionSearch.searchBatch(spark, collection, "emb", qs, k,
          searchParams = params))
      val out = tracer.span("operators.collect")(df.collect())
        .map(r => (r.getAs[String]("qid"), r.getAs[Long]("id"), r.getAs[Double]("score")))
      tracer.note("hits", Map("hits" -> out.length.toDouble))
      out
    }) { out =>
      vectors.addAndGet(nq)
      val byQ = out.groupBy(_._1)
      (0 until nq).iterator.map { j =>
        val qi = b * nq + j
        val got = byQ.getOrElse(s"q$j", Array.empty).sortBy(h => (h._3, h._2)).map(_._2).toSeq
        if (got.size != k) Some(s"$kind q$j: ${got.size} hits, expected $k")
        else if (exact) {
          if (Exact.sameRanking(got, truth(qi), pk => Exact.l2(queries(qi), vecs(pk.toInt)))) None
          else Some(s"exact batch q$j differs from the exact top-$k")
        } else if (got.exists(p => p < 0 || p >= rows)) Some(s"$kind q$j: unknown pk")
        else { recalls.add(Exact.recall(got, truth(qi), 10)); None }
      }.collectFirst { case Some(e) => e }
    }
  }

  def measure(deadline: Long): Unit = {
    // Whole exact/IVF pairs, so every window holds both routes equally.
    var i = 0
    while (System.nanoTime() < deadline) {
      batch(i % batches, exact = true)
      batch((i + 1) % batches, exact = false)
      i += 1
    }
  }

  def extraMetrics(): Map[String, Any] = {
    val all = rec.samples(primary: _*)
    val windowOps = all.size
    Map("recall_at_10" -> Stats.mean(recalls.asScala),
      "batch_p50_ms" -> Stats.pct(all, 0.5),
      "batch_exact_p50_ms" -> Stats.pct(rec.samples("batch_exact"), 0.5),
      "batch_ivf_p50_ms" -> Stats.pct(rec.samples("batch_ivf"), 0.5),
      "vectors_per_s" -> vectors.get / windowS, "batches" -> windowOps)
  }

  def userBytes(): Double = rows * (8.0 + 4 * data.dim + 4)
}

/** Three closed-loop search clients over an IVF_SQ8 collection while one
  * open-loop writer inserts, upserts and deletes on a fixed schedule.
  * Writer rows live around the first `writer_centres` centres, and the
  * recall queries around the others, so the exact answers over the base
  * rows stay the exact answers however the writes interleave.
  */
final class SearchUnderWrites(s: SparkSession, c: Config) extends Workload(s, c) {
  val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("emb", ArrayType(FloatType)), StructField("tag", IntegerType)))
  val primary = Seq("search")
  val nprobe = cfg.int("nprobe")
  val clients = cfg.int("search_clients")
  val writerCentres = cfg.int("writer_centres")
  val intervalMs = cfg.int("write_interval_ms")
  val insertRows = cfg.int("insert_rows")
  val upsertRows = cfg.int("upsert_rows")
  val deleteRows = cfg.int("delete_rows")
  val pool = cfg.int("query_pool")
  val queries: IndexedSeq[Array[Float]] = (0 until pool).map(i =>
    data.around(writerCentres + i % (data.centres - writerCentres), 12, i))
  lazy val truthAll = Exact.topKAll(queries, ids, vecs, k, cfg.threads)
  lazy val truthFiltered = filteredTruth(queries)
  val recalls = new ConcurrentLinkedQueue[Double]()

  // Writer state. Writer pks start at `writerBase`; the first pk of each
  // insert batch is a sentinel that is never upserted or deleted.
  val writerBase = 1L << 32
  val live = new ConcurrentHashMap[Long, (Array[Float], Int)]()
  @volatile var sentinel: Option[(Long, Array[Float])] = None
  val sentinels = ConcurrentHashMap.newKeySet[Long]()
  /** pk -> (vector, nanoTime its delete returned). */
  val deleted = new ConcurrentHashMap[Long, (Array[Float], Long)]()
  @volatile var lastDeleted: Option[Long] = None
  val inserted = new AtomicLong(0)
  val everWritten = new ConcurrentLinkedQueue[Array[Float]]()
  val lateMs = new ConcurrentLinkedQueue[Double]()
  val folds = new AtomicLong(0)
  val foldWriteMs = new ConcurrentLinkedQueue[Double]()
  val deltaSamples = new ConcurrentLinkedQueue[Double]()
  /** Number of the next scheduled write; warm-up writes come first. */
  private var nextWrite = 0L

  override def prepare(): Unit = { truthAll; truthFiltered; () }

  def setupOnce(dir: String): Map[String, Double] = {
    live.clear(); deleted.clear(); sentinels.clear(); everWritten.clear()
    sentinel = None; lastDeleted = None; inserted.set(0); nextWrite = 0
    val cat = new graft.store.Catalog(dir)
    collection = cat.createCollection(graft.store.CollectionDef("c", Seq(
      graft.store.FieldDef("id", LongType, nullable = false, isPrimary = true),
      graft.store.FieldDef("emb", ArrayType(FloatType), dim = Some(data.dim)),
      graft.store.FieldDef("tag", IntegerType)),
      properties = Map("compaction.maxDeltas" -> cfg.int("max_deltas").toString)))
    val (_, ins) = timed(collection.insert(spark, baseFrame(withText = false)))
    val (_, sq8) = timed(collection.createIndex(spark, indexDef))
    // Warm-up: one write of each kind, then a search of each kind.
    val (_, warm) = timed {
      (0 until 3).foreach(_ => { write(nextWrite); nextWrite += 1 })
      searchOne(0, filtered = false)
      deletedRead()
      freshRead()
    }
    Map("store.insert_s" -> ins, "index.build_s.ivf_sq8" -> sq8, "warmup_s" -> warm)
  }

  def tagOf(pk: Long): Option[Int] =
    if (pk >= 0 && pk < rows) Some(tags(pk.toInt))
    else Option(live.get(pk)).map(_._2)

  def writerVec(n: Long): Array[Float] = data.around((n % writerCentres).toInt, 13, n)

  /** Base query `qi`: recall against the exact answer over base rows. */
  def searchOne(qi: Int, filtered: Boolean): Unit = {
    val startNs = System.nanoTime()
    rec.op("search")(search(queries(qi), if (filtered) filterExpr else "", nprobe)) { hits =>
      checkDense(hits, (if (filtered) truthFiltered else truthAll)(qi), filtered,
        tagOf, recalls).orElse(resurrected(hits, startNs))
    }
  }

  /** A hit whose delete had returned before the search began. */
  def resurrected(hits: Seq[Long], startNs: Long): Option[String] =
    hits.find(h => Option(deleted.get(h)).exists(_._2 < startNs))
      .map(h => s"deleted pk $h came back")

  /** Read-your-write: the latest sentinel's own vector finds it. */
  def freshRead(): Unit = sentinel match {
    case None => searchOne(0, filtered = false)
    case Some((pk, v)) =>
      val startNs = System.nanoTime()
      rec.op("search")(search(v, "", nprobe)) { hits =>
        if (!hits.contains(pk)) Some(s"just-inserted pk $pk not found by its own vector")
        else resurrected(hits, startNs)
      }
  }

  /** A deleted row's own vector must not find it. */
  def deletedRead(): Unit = lastDeleted.flatMap(pk => Option(deleted.get(pk)).map(pk -> _)) match {
    case None => searchOne(1, filtered = true)
    case Some((pk, (v, _))) =>
      val startNs = System.nanoTime()
      rec.op("search")(search(v, filterExpr, nprobe)) { hits =>
        if (hits.contains(pk)) Some(s"deleted pk $pk returned for its own vector")
        else resurrected(hits, startNs)
      }
  }

  /** Client `ci` starts its cycle at step `ci`, so every window (and each
    * half of a traced one) holds filtered searches however slow they are.
    */
  def client(ci: Int, deadline: Long): Unit = {
    var i = ci
    while (System.nanoTime() < deadline) {
      val qi = (ci * 7 + i) % pool
      (i % 4) match {
        case 0 => searchOne(qi, filtered = false)
        case 1 => searchOne(qi, filtered = true)
        case 2 => freshRead()
        case _ => deletedRead()
      }
      i += 1
    }
  }

  def frame(rowsOut: Seq[(Long, Array[Float], Int)]): DataFrame =
    spark.createDataFrame(rowsOut.map { case (p, v, t) => Row(p, v, t) }.asJava, schema)

  /** One scheduled write; returns whether it folded deltas (traced runs). */
  def write(n: Long): Boolean = {
    val rng = new java.util.SplittableRandom(cfg.seed * 31 + n)
    def pick(m: Int): Seq[Long] = {
      val pool = live.keySet.asScala.filterNot(sentinels.contains).toSeq.sorted
      val chosen = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (chosen.size < math.min(m, pool.size)) chosen += pool(rng.nextInt(pool.size))
      chosen.toSeq
    }
    val before = if (tracer.on) collection.numDeltas else 0
    (n % 3) match {
      case 0 =>
        val batch = (0 until insertRows).map { j =>
          val pk = writerBase + inserted.get + j
          (pk, writerVec(pk - writerBase), rng.nextInt(100))
        }
        tracer.span("store.insert")(collection.insert(spark, frame(batch)))
        batch.foreach { case (p, v, t) => live.put(p, (v, t)); everWritten.add(v) }
        sentinels.add(batch.head._1)
        sentinel = Some((batch.head._1, batch.head._2))
        inserted.addAndGet(insertRows)
      case 1 =>
        val batch = pick(upsertRows).map { p =>
          (p, data.around((p % writerCentres).toInt, 14, n * 1000 + p % 1000), rng.nextInt(100))
        }
        tracer.span("store.upsert")(collection.upsert(spark, frame(batch)))
        batch.foreach { case (p, v, t) => live.put(p, (v, t)); everWritten.add(v) }
      case _ =>
        val victims = pick(deleteRows)
        val n = tracer.span("store.delete")(
          collection.delete(spark, s"id in [${victims.mkString(", ")}]"))
        require(n == victims.size, s"delete removed $n rows, expected ${victims.size}")
        val done = System.nanoTime()
        victims.foreach { p => deleted.put(p, (live.remove(p)._1, done)) }
        lastDeleted = victims.lastOption
    }
    tracer.on && {
      val after = collection.numDeltas
      deltaSamples.add(after.toDouble)
      tracer.note("store.state", Map("store.deltas" -> after.toDouble))
      if (after <= before) folds.incrementAndGet()
      after <= before
    }
  }

  def writer(start: Long, deadline: Long): Unit = {
    var slot = 0L
    while (start + slot * intervalMs * 1000000L < deadline) {
      val due = start + slot * intervalMs * 1000000L
      val n = nextWrite
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      lateMs.add(math.max(0L, System.nanoTime() - due) / 1e6)
      val kind = Seq("insert", "upsert", "delete")((n % 3).toInt)
      val verdict =
        try {
          if (tracer.span(s"op.write_$kind")(write(n))) foldWriteMs.add((System.nanoTime() - due) / 1e6)
          None
        } catch { case e: Exception => Some(s"write_$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      // Open loop: latency counts from when the write was due.
      rec.add(s"write_$kind", (System.nanoTime() - due) / 1e6)
      rec.count(verdict)
      slot += 1
      nextWrite += 1
    }
  }

  def measure(deadline: Long): Unit = {
    val start = System.nanoTime()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    def thread(body: => Unit): Thread = {
      val t = new Thread(() => try body catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    val ts = thread(writer(start, deadline)) +: (0 until clients).map(ci => thread(client(ci, deadline)))
    ts.foreach(_.join())
    errors.asScala.headOption.foreach(e => throw e)
  }

  override def finalChecks(): Unit = {
    val want = rows + inserted.get - deleted.size
    val got = collection.numEntities(spark)
    rec.count(if (got == want) None else Some(s"count $got, expected $want"))
    // The exact answers over base rows hold only if no writer row could
    // have entered a recall query's top-k.
    val written = everWritten.asScala.toSeq
    queries.indices.foreach { qi =>
      val kth = truthAll(qi).last._2
      require(written.forall(v => Exact.l2(queries(qi), v) > kth),
        s"writer rows reach the top-$k of recall query $qi; separate the clusters")
    }
  }

  def extraMetrics(): Map[String, Any] = {
    val srch = rec.samples("search")
    val writes = rec.samples("write_insert", "write_upsert", "write_delete")
    Map("recall_at_10" -> Stats.mean(recalls.asScala),
      "search_p50_ms" -> Stats.pct(srch, 0.5), "search_p90_ms" -> Stats.pct(srch, 0.9),
      "write_p50_ms" -> Stats.pct(writes, 0.5), "write_p90_ms" -> Stats.pct(writes, 0.9),
      "write_samples" -> writes.size,
      "writer_late_ms" -> lateMs.asScala.lastOption.getOrElse(0.0),
      "writer_late_mean_ms" -> Stats.mean(lateMs.asScala))
  }

  def userBytes(): Double = (rows + live.size.toDouble) * (8.0 + 4 * data.dim + 4)

  override def layerExtras(kinds: Map[String, Map[String, Double]]): Map[String, Double] = {
    def lat(kind: String) = Stats.pct(rec.samples(s"write_$kind"), 0.5)
    Map("store.insert_ms" -> lat("insert"), "store.upsert_ms" -> lat("upsert"),
      "store.delete_ms" -> lat("delete"), "store.folds" -> folds.get.toDouble,
      "store.fold_write_ms" -> Stats.mean(foldWriteMs.asScala),
      "store.deltas" -> Stats.mean(deltaSamples.asScala))
  }
}
