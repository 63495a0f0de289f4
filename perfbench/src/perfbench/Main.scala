package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import graft.{Artifacts, SparkEntry, StealMeter}
import graft.qa.Retriever
import graft.queries._
import graft.rank.{MMR, Ranker}
import graft.sources.Tables
import graft.vector.VectorOps
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Benchmark harness: one JVM runs one workload and writes one JSON run
  * record (operations, set-up times, environment, traced layer counters)
  * for `perfbench/run.py` to check and reduce to metrics.
  *
  * Workloads:
  *  - `request_path`: a closed loop of one client on one warm session;
  *    each interaction is `Ranker.recommend` followed by questions to
  *    `Retriever.answerContext` on focused ranks.
  *  - `registry_sweep` / `heavy_skew`: passes over a list of
  *    `SparkEntry.queries`, each timed to a whole-row checksum under a
  *    deadline, with `Artifacts.clearAll()` at the start of every pass.
  *    The pass also has an overall budget (`--budget`, seconds from JVM
  *    start), so the record is written even when queries hang: a query
  *    left without time is not run, and counts as failed and charged the
  *    deadline.
  *
  * With `--trace 1` the run also registers a listener, forces plans
  * separately from execution and keeps spans in memory.
  */
object Main {
  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
    def int(k: String, d: Int): Int = kv.get(k).map(_.toInt).getOrElse(d)
    def dbl(k: String, d: Double): Double = kv.get(k).map(_.toDouble).getOrElse(d)
  }

  val ChunkFields: Seq[String] = Seq("title", "summary", "rating", "review_count", "price")
  /** Set-ups per run; `setup_s` reports their median. */
  val SetupReps = 3
  /** How long a missed query is cancelled for before the pass moves on. */
  val CancelGraceS = 10.0
  val Families: Seq[(String, Seq[Q])] = Seq(
    "RelationalQueries" -> RelationalQueries.all, "TextQueries" -> TextQueries.all,
    "DedupQueries" -> DedupQueries.all, "VectorQueries" -> VectorQueries.all,
    "PipelineQueries" -> PipelineQueries.all, "EventQueries" -> EventQueries.all,
    "RankQueries" -> RankQueries.all, "ScaleQueries" -> ScaleQueries.all,
    "StatQueries" -> StatQueries.all, "AnalyticsQueries" -> AnalyticsQueries.all,
    "LayoutQueries" -> LayoutQueries.all, "CurationQueries" -> CurationQueries.all,
    "SketchQueries" -> SketchQueries.all, "GraphQueries" -> GraphQueries.all,
    "PruneQueries" -> PruneQueries.all, "SurfaceQueries" -> SurfaceQueries.all,
    "QualityQueries" -> QualityQueries.all, "EvalQueries" -> EvalQueries.all,
    "RetrievalQueries" -> RetrievalQueries.all, "MiningQueries" -> MiningQueries.all)
  /** Consumers of each build-once artifact, first the one used for
    * cold-minus-warm attribution when the workload runs none of them. */
  val ArtifactConsumers: Seq[(String, Seq[String])] = Seq(
    "suffix_array" -> Seq("q231_suffix_array", "q232_longest_repeat",
      "q234_repeated_spans", "q235_contamination_spans", "q236_apply_cuts"),
    "bpe" -> Seq("q233_bpe_encode", "q227_bpe_train"),
    "copurchase_edges" -> Seq("q152_kcore", "q100_triangle_count",
      "q182_bfs_layers", "q190_label_propagation", "q197_adamic_adar"))

  def parse(args: Array[String]): Args = Args(args.grouped(2).map {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
  }.toMap)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.int("cores", 4)}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.int("cores", 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bus.watchCleaner(spark.sparkContext)
    val counters = if (a("trace") == "1") {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val h = new Harness(spark, a, counters, new Spans(counters.isDefined))
    val ticks0 = StealMeter.cpuTicks()
    val body = a("workload") match {
      case "request_path" => h.requestPath()
      case "registry_sweep" | "heavy_skew" => h.sweep()
      case w => sys.error(s"unknown workload $w")
    }
    val env = Map(
      "steal_frac" -> StealMeter.stealFrac(ticks0, StealMeter.cpuTicks()),
      "cores" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "spark_conf" -> (spark.sparkContext.getConf.getAll.toMap ++
        spark.conf.getAll.filter(_._1.startsWith("spark.graft."))))
    a.get("spans").foreach(h.spans.write)
    val record = Map("boot_s" -> bootS, "env" -> env) ++ body
    val out = java.nio.file.Paths.get(a("out"))
    val tmp = out.resolveSibling(out.getFileName.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, Json(record))
    java.nio.file.Files.move(tmp, out, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    spark.stop()
  }
}

final class Harness(spark: SparkSession, a: Main.Args, counters: Option[Counters],
                    val spans: Spans) {
  private val sc = spark.sparkContext
  private val ops = ArrayBuffer.empty[Map[String, Any]]
  private var opSeq = 0
  private val trace = counters.isDefined

  /** Time one operation. Process clocks are read on every run; listener
    * counters, the plan census and task skew only on traced runs, where
    * the time spent reading them is recorded as tracing overhead. */
  private def measure(kind: String, name: String, phase: String, deadlineS: Double = 0,
                      chargeS: Double = 0, tags: Map[String, Any] = Map.empty)(
      body: String => Map[String, Any]): Map[String, Any] = {
    opSeq += 1
    val opId = s"$kind-$opSeq"
    val b0 = System.nanoTime()
    counters.foreach(_ => Bus.drain(sc))
    val s0 = counters.map(_.snap())
    val cpu0 = Clocks.cpuNs(); val gc0 = Clocks.gcMs(); val t0 = System.nanoTime()
    val (res, missed) = spans(kind, opId) {
      if (deadlineS > 0) withDeadline(opId, deadlineS)(body(opId)) else (Try(body(opId)), false)
    }
    val t1 = System.nanoTime()
    val wallMs = if (missed) chargeS * 1000 else (t1 - t0) / 1e6
    val base = Map[String, Any]("op" -> opId, "kind" -> kind, "name" -> name, "phase" -> phase,
      "wall_ms" -> wallMs, "cpu_ms" -> (Clocks.cpuNs() - cpu0) / 1e6,
      "gc_ms" -> (Clocks.gcMs() - gc0).toDouble, "ok" -> res.isSuccess,
      "deadline_missed" -> missed) ++ tags
    val out = res match {
      case Success(m) => m
      case Failure(e) => Map("error" -> String.valueOf(e.getMessage).take(300))
    }
    val traced = counters.map { c =>
      Bus.drain(sc)
      val s1 = c.snap()
      val from = s0.get
      Map("jobs" -> (s1.jobs - from.jobs), "tasks" -> (s1.tasks - from.tasks),
        "exec_gc_ms" -> (s1.gcMs - from.gcMs),
        "shuffle_write_bytes" -> (s1.shuffleWrite - from.shuffleWrite),
        "spill_bytes" -> (s1.spill - from.spill),
        "input_rows" -> (s1.inputRows - from.inputRows),
        "task_skew" -> c.taskSkew(from), "census" -> Census(c.plansSince(from)),
        "trace_overhead_ms" -> ((t0 - b0) + (System.nanoTime() - t1)) / 1e6)
    }.getOrElse(Map.empty)
    val rec = base ++ out ++ traced
    if (phase == "measure") ops += rec
    rec
  }

  /** An operation the run had no time left for: failed, charged `chargeS`. */
  private def unrun(kind: String, name: String, phase: String, chargeS: Double,
                    tags: Map[String, Any]): Map[String, Any] = {
    opSeq += 1
    val rec = Map[String, Any]("op" -> s"$kind-$opSeq", "kind" -> kind, "name" -> name,
      "phase" -> phase, "wall_ms" -> chargeS * 1000, "cpu_ms" -> 0.0, "gc_ms" -> 0.0,
      "ok" -> false, "deadline_missed" -> true, "error" -> "not run: run budget exhausted") ++ tags
    if (phase == "measure") ops += rec
    rec
  }

  /** Run `body` on its own thread under a Spark job group; past the
    * deadline the group is cancelled, the thread interrupted, and the
    * operation reported as missed. */
  private def withDeadline[T](group: String, deadlineS: Double)(body: => T): (Try[T], Boolean) = {
    @volatile var out: Try[T] = Failure(new IllegalStateException("no result"))
    val t = new Thread(() => {
      sc.setJobGroup(group, group, interruptOnCancel = true)
      try out = Try(body) finally sc.clearJobGroup()
    })
    t.setDaemon(true)
    t.start()
    t.join((deadlineS * 1000).toLong.max(1L))
    if (!t.isAlive) (out, false)
    else {
      // cancel until the thread ends: a job submitted after one cancel
      // (the query was still planning) needs another
      val giveUp = System.nanoTime() + (Main.CancelGraceS * 1e9).toLong
      while (t.isAlive && System.nanoTime() < giveUp) {
        sc.cancelJobGroup(group)
        t.interrupt()
        t.join(200)
      }
      (Failure(new RuntimeException(s"missed deadline of $deadlineS s")), true)
    }
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The measured phase: `step` runs at least once and until `seconds`
    * have passed. Records phase wall, CPU and steal, and, once the clocks
    * have stopped, the live heap the engine retains. Retained heap only
    * grows through a phase (caches and artifacts accumulate), so this is
    * its peak; no collection is forced between timed operations. */
  private def measurePhase(seconds: Double)(step: => Unit): Map[String, Any] = {
    val ticks0 = StealMeter.cpuTicks()
    val cpu0 = Clocks.cpuNs()
    val t0 = System.nanoTime()
    while ({ step; (System.nanoTime() - t0) / 1e9 < seconds }) ()
    Map("measure_wall_s" -> (System.nanoTime() - t0) / 1e9,
      "measure_cpu_s" -> (Clocks.cpuNs() - cpu0) / 1e9,
      "measure_steal_frac" -> StealMeter.stealFrac(ticks0, StealMeter.cpuTicks()),
      "peak_heap_mb" -> Clocks.liveHeapMb(sc))
  }

  // ------------------------------------------------------------ request path

  final case class Request(idx: Int, vec: Array[Double], text: String, questions: Seq[(Int, String)])

  /** One warm session's frames over a catalogue directory, as `graft.Repl`
    * builds them. */
  final class Catalogue(dir: String) {
    val emb: DataFrame = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), VectorOps.asDouble(col("embedding")).as("vec"))
    val meta: DataFrame = Helpers.metaAnalog(Tables.documents(spark, dir))
    val chunks: DataFrame = Retriever.chunksFromMeta(meta, "id", Main.ChunkFields)
  }

  private def readRequests(path: String): IndexedSeq[Request] = {
    val src = scala.io.Source.fromFile(path)
    val lines = try src.getLines().map(_.split("\t", -1)).toVector finally src.close()
    val qs = lines.filter(_(0) == "A").groupBy(_(1).toInt)
      .map { case (i, ls) => i -> ls.map(l => (l(2).toInt, l(3))) }
    lines.filter(_(0) == "R").map { l =>
      Request(l(1).toInt, l(4).split(",").map(_.toDouble), l(3), qs.getOrElse(l(1).toInt, Nil))
    }
  }

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("score", DoubleType), StructField("mmr_pos", LongType),
    StructField("has_price", BooleanType)))

  /** `Ranker.recommend`, split at its layer boundaries so each gets a span:
    * scored top-K (plan, then execute), greedy MMR, display ordering. */
  private def recommendTraced(c: Catalogue, r: Request, op: String): Array[Row] = {
    val cfg = Ranker.Config()
    val rows = spans("rank.score", op) {
      val ds = Ranker.scoreCandidates(c.emb, c.meta, r.text, r.vec, cfg)
        .select("id", "score", "vec", "price")
      spans("spark.plan", op)(ds.queryExecution.executedPlan)
      spans("spark.exec", op)(ds.collect())
    }
    val picked = spans("rank.mmr", op) {
      MMR.select(rows.map(x => MMR.Candidate(x.getLong(0), x.getDouble(1),
        x.getSeq[Double](2).toArray)).toSeq, cfg.finalK, cfg.lambda)
    }
    spans("rank.output", op) {
      val hasPrice = rows.map(x => x.getLong(0) -> !x.isNullAt(3)).toMap
      val out = picked.zipWithIndex.map { case (p, i) =>
        Row(p.id, p.score, (i + 1).toLong, hasPrice(p.id)) }
      spark.createDataFrame(sc.parallelize(out.toList, 1), schema)
        .orderBy(col("has_price").desc, col("mmr_pos").asc).collect()
    }
  }

  /** One client interaction: a recommendation, then each question on the
    * product at its focus rank. Returns the responses. */
  private def interaction(c: Catalogue, r: Request, phase: String): Map[String, Any] = {
    val rec = measure("recommend", s"r${r.idx}", phase) { op =>
      val rows = if (trace) recommendTraced(c, r, op)
        else Ranker.recommend(spark, c.emb, c.meta, r.text, r.vec).collect()
      Map("ids" -> rows.map(_.getLong(0)).toSeq, "has_price" -> rows.map(_.getBoolean(3)).toSeq)
    }
    val ids = rec.getOrElse("ids", Nil).asInstanceOf[Seq[Long]]
    val answers = if (ids.isEmpty) Nil else r.questions.map { case (rank, q) =>
      measure("answer", s"r${r.idx}", phase) { op =>
        val focus = ids(math.min(rank, ids.size) - 1)
        val ctx = spans("qa.retrieve", op)(Retriever.answerContext(c.chunks, focus, q))
        Map("focus" -> focus, "chunks" -> ctx.split("\n").toSeq.filter(_.nonEmpty))
      }
    }
    // drop the candidate set each recommendation persists
    spark.catalog.clearCache()
    Map("request" -> r.idx, "ids" -> ids, "answers" -> answers.map(_.getOrElse("chunks", Nil)))
  }

  def requestPath(): Map[String, Any] = {
    val requests = readRequests(a("requests"))
    val warmup = 2
    // set-up, repeated: build the session's frames over the catalogue and
    // warm up on the head of the request stream
    var cat: Catalogue = null
    val setups = (1 to Main.SetupReps).map { _ =>
      Artifacts.clearAll(); spark.catalog.clearCache()
      timed {
        cat = new Catalogue(a("corpus"))
        requests.take(warmup).map(interaction(cat, _, "setup"))
      }
    }
    // checker state, outside every timed region: every product's chunks
    val chunkSets = cat.chunks.collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getString(2)).toSet }
    var next = warmup
    val phase = measurePhase(a.dbl("seconds", 10)) {
      interaction(cat, requests(next % requests.size), "measure")
      next += 1
    }
    Map("ops" -> ops.toSeq, "setup_s" -> setups.map(_._2), "warmup" -> setups.map(_._1),
      "chunk_failures" -> chunkFailures(chunkSets)) ++ phase ++
      (if (trace) Map("layers" -> layerSummary()) else Map.empty)
  }

  private def chunkFailures(chunkSets: Map[Long, Set[String]]): Int =
    ops.count(o => o("kind") == "answer" && o("ok") == true && {
      val f = o("focus").asInstanceOf[Long]
      !o("chunks").asInstanceOf[Seq[String]].forall(chunkSets.getOrElse(f, Set.empty))
    })

  // ------------------------------------------------------------ query sweeps

  def sweep(): Map[String, Any] = {
    val dir = a("corpus")
    val registry = SparkEntry.queries
    val names = a.get("queries").map(_.split(",").toSeq)
      .getOrElse(SparkEntry.allQueries.map(_.name))
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val family = Main.Families.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap
    val deadline = a.dbl("deadline", 60)
    val budgetEndMs = ManagementFactory.getRuntimeMXBean.getStartTime +
      (a.dbl("budget", 150) * 1000).toLong

    // a query gets the deadline or what is left of the budget, whichever
    // is shorter; a miss is charged the full deadline either way
    def runQuery(name: String, phase: String): Map[String, Any] = {
      val tags = Map[String, Any]("family" -> family.getOrElse(name, "?"))
      val left = (budgetEndMs - System.currentTimeMillis()) / 1000.0 - Main.CancelGraceS
      if (left < 1) unrun("query", name, phase, deadline, tags)
      else measure("query", name, phase, deadline.min(left), deadline, tags) { op =>
        val ds = registry(name)(spark, dir)
          .agg(count(lit(1)).as("n"), bit_xor(xxhash64(struct(col("*")))).as("h"))
        spans("spark.plan", op)(ds.queryExecution.executedPlan)
        val row = spans("spark.exec", op)(ds.collect().head)
        spark.catalog.clearCache()
        Map("rows" -> row.getLong(0),
          "checksum" -> (if (row.isNullAt(1)) "null" else row.getLong(1).toString))
      }
    }

    val setups = (1 to Main.SetupReps).map { _ =>
      timed {
        Artifacts.clearAll(); spark.catalog.clearCache()
        Tables.names.foreach(t => Tables.load(spark, dir, t).schema)
      }._2
    }
    // one cold pass from cleared artifacts and caches, sized in run.py to
    // last about as long as the request path measures
    Artifacts.clearAll(); spark.catalog.clearCache()
    val phase = measurePhase(0) {
      names.foreach(runQuery(_, "measure"))
    }
    val traced = if (!trace) Map.empty else {
      // cold-minus-warm time of each artifact's first consumer in the pass
      val artifacts = Main.ArtifactConsumers.map { case (art, consumers) =>
        val q = names.find(consumers.contains).getOrElse(consumers.head)
        Artifacts.clearAll()
        val cold = runQuery(q, "attribution")
        val warm = runQuery(q, "attribution")
        art -> Map("consumer" -> q, "cold_ms" -> cold("wall_ms"), "warm_ms" -> warm("wall_ms"),
          "ok" -> (cold("ok") == true && warm("ok") == true))
      }.toMap
      Map("artifacts" -> artifacts, "layers" -> layerSummary(), "probe" -> requestProbe(dir))
    }
    Map("ops" -> ops.toSeq, "setup_s" -> setups, "queries" -> names) ++
      phase ++ traced
  }

  /** Traced sweeps also run a few interactions of the request path over
    * the sweep's own corpus: every traced run must report every per-layer
    * metric, the rank, vector and qa ones included. These figures are a
    * probe, not the sweep's work, and are printed as such. */
  private def requestProbe(dir: String): Map[String, Any] = {
    val cat = new Catalogue(dir)
    val vecs = cat.emb.orderBy("id").limit(4).collect().map(_.getSeq[Double](1).toArray)
    val requests = vecs.indices.map(i => Request(i, vecs(i), RankQueries.QueryText,
      Seq(1 -> "what is the price", 2 -> "how good is the rating", 3 -> "tell me the summary")))
    interaction(cat, requests.head, "setup")
    val start = ops.size
    requests.tail.foreach(interaction(cat, _, "measure"))
    val probeOps = ops.drop(start).toSeq
    ops.remove(start, ops.size - start)
    Map("ops" -> probeOps, "layers" -> layerSummary(probeOps))
  }

  /** Span-derived layer times of the given measured operations. */
  private def layerSummary(of: Seq[Map[String, Any]] = ops.toSeq): Map[String, Any] = {
    val measured = of.map(_("op").toString).toSet
    Seq("rank.score", "rank.mmr", "qa.retrieve", "spark.plan")
      .map(n => n -> spans.durationsMs(n, measured)).toMap +
      ("plan_by_op" -> spans.totalMsByOp("spark.plan", measured))
  }
}
