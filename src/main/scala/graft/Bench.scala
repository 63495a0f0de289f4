package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Parse the SPARK_GRAFT_CONF passthrough — semicolon-separated
    * key=value pairs — failing LOUDLY on a pair without '=' (the
    * previous inline destructure died in an anonymous MatchError,
    * which is a miserable way to learn you typed a comma). */
  private[graft] def parseConf(raw: String): Seq[(String, String)] =
    raw.split(";").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0,
        s"SPARK_GRAFT_CONF entry '$kv' is not key=value (semicolon-separated pairs)")
      (kv.substring(0, i), kv.substring(i + 1))
    }

  /** Locale-independent fixed-point formatting: the f interpolator uses
    * the JVM default locale, which under e.g. de_DE emits a decimal
    * comma — invalid JSON. Shared by every artifact writer in the
    * package (Bench, RecallProbe). */
  private[graft] def num(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
  private[graft] def num4(v: Double): String = num(v, 4)

  /** Minimal JSON string-content escaper, shared by every artifact
    * writer that embeds free text (e.g. the SPARK_GRAFT_CONF
    * passthrough): backslash and quote escaped, control characters
    * \\u-encoded — a conf value containing any of them must not
    * produce an invalid artifact. */
  private[graft] def jsonStr(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case c if c < ' ' =>
        String.format(java.util.Locale.ROOT, "\\u%04x", Integer.valueOf(c.toInt))
      case c => c.toString
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // partition count defaults to the thread count (the committed
    // methodology) but can be raised independently for scale probes:
    // per-partition volume, not thread count, is what drifts out of the
    // memory regime when the same 32 partitions carry ×100 the data
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // state-backend override, mirroring Verify: times the streaming
    // family under RocksDB instead of the local default
    sys.env.get("SPARK_GRAFT_STATE_STORE")
      .foreach(spark.conf.set("spark.graft.stateStore", _))
    // materialization-mode override, mirroring Verify
    sys.env.get("SPARK_GRAFT_MATERIALIZE")
      .foreach(spark.conf.set("spark.graft.materialize", _))
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.conf.set("spark.graft.checkpointDir", _))
    // generic conf passthrough for targeted probes, e.g.
    // SPARK_GRAFT_CONF="spark.graft.hardNegatives.exactMax=0"
    // (semicolon-separated key=value pairs)
    sys.env.get("SPARK_GRAFT_CONF").foreach(
      parseConf(_).foreach { case (k, v) => spark.conf.set(k, v) })
    // Two passes, min per query: a single shared-JVM pass occasionally
    // eats a multi-second GC/JIT storm on one arbitrary query; min-of-two
    // reports steady-state per-query cost (what a warmed executor does).
    // optional comma-separated filter for targeted timing runs
    // Timed action. `count` is the driver's committed methodology, but
    // Catalyst prunes computed columns nothing references (a heavy
    // decimal column can cost ~0 under count — the q218 class).
    // `checksum` forces EVERY output column through an aggregate
    // (bit_xor of xxhash64 over the whole row struct — xor, not sum:
    // summing 2^63-scale hashes overflows under ANSI mode), so the
    // timed number is the full cost of producing the advertised output
    // — the honest absolute, used for the committed checksum baseline.
    val action = sys.env.getOrElse("SPARK_GRAFT_BENCH_ACTION", "count")
    require(action == "count" || action == "checksum",
      s"SPARK_GRAFT_BENCH_ACTION must be count|checksum, got '$action'")
    def timedAction(df: DataFrame): Unit = action match {
      case "count" => df.count(); ()
      case "checksum" =>
        import org.apache.spark.sql.functions.{bit_xor, xxhash64, struct, col}
        df.agg(bit_xor(xxhash64(struct(col("*"))))).head(); ()
    }
    // CPU-steal instrumentation (see StealMeter): per-query and per-run
    // stolen fractions ride in the artifact so a slow entry carries its
    // own environmental adjudication.
    import StealMeter.{cpuTicks, stealFrac}

    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in registry: ${unknown.mkString(", ")}")
    }
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // a FAILED query is recorded as a NEGATIVE elapsed (sentinel in the
    // artifact itself, not just a stderr line) and excluded from the
    // cross-pass min and the total — a fast time-to-exception must never
    // masquerade as a fast query
    def onePass(): Map[String, (Double, Double)] = {
      // each pass pays exactly one suffix-array build, one BPE training
      // loop, one edge-artifact build: reuse WITHIN a pass is the
      // artifact design (index / tokenizer / edge table), but a warm
      // second pass hiding a whole build cost from the min would be
      // dishonest. One registry-wide clear — every Artifacts.memo is
      // covered by construction, so a future build-once cache cannot
      // silently bench warm.
      graft.Artifacts.clearAll()
      selected.map { case (name, fn) =>
        val s0 = cpuTicks()
        val t0 = System.nanoTime()
        val ok =
          try { timedAction(fn(spark, sfDir)); true } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        val steal = stealFrac(s0, cpuTicks())
        // drop per-query persisted state so one query's cache cannot
        // pressure the next (single-JVM bench hygiene; outside the timing)
        spark.catalog.clearCache()
        name -> ((if (ok) elapsed else -elapsed, steal))
      }
    }
    // absolute box-speed canary (see BoxCanary): steal can be ~0 while
    // the host runs 20%+ slow, so every artifact carries a fixed-work
    // timing at run start and end — two artifacts compare window speed
    // by these fields alone
    // pass count: 2 (min-of-two) is the committed methodology — a lone
    // shared-JVM pass occasionally eats a GC/JIT storm — but hour-scale
    // scale probes (sf10 sweeps) can set 1 to spend the wall budget on
    // more configs instead of a second pass; the artifact records it
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    require(passes >= 1 && passes <= 4,
      s"SPARK_GRAFT_PASSES must be 1..4, got $passes")
    val canary0 = BoxCanary.sample()
    val runTicks0 = cpuTicks()
    val ps = Seq.fill(passes)(onePass())
    val runSteal = stealFrac(runTicks0, cpuTicks())
    // End-of-run canary: sampled AFTER spark.stop() plus a GC and a
    // short settle. Round 12 caught the live-session sample reading the
    // just-finished run's own JVM turmoil rather than the box: a full
    // suite's end sample read oneCore 1.348 / allCores 2.22 while
    // standalone processes in the same window read ≈1.09 / 1.36
    // (shuffle-cleanup and GC threads competing with the spin). The
    // spin itself — the unit, checksum-pinned in BoxCanarySpec — is
    // unchanged; only the sampling environment gets clean.
    spark.stop()
    System.gc()
    Thread.sleep(1000)
    // Retry-until-stable (round 13): one settled sample is NOT enough
    // under the sbt harness — the driver's r12 artifact read end oneCore
    // 1.935 vs start 1.108 after the settle fix, while bare-java legs
    // read clean; surviving harness/shutdown threads drain on their own
    // schedule. Sample until two CONSECUTIVE oneCore readings agree
    // within 5% (the unit's minute-scale noise band), bounded at 5
    // samples: genuine box slowness repeats and is reported; decaying
    // self-turmoil is waited out. The artifact says which happened
    // (endStable) so a never-stable end is visibly untrusted.
    var prevEnd = BoxCanary.sample()
    var endSamples = 1
    var endStable = false
    while (!endStable && endSamples < 5) {
      Thread.sleep(2000)
      val next = BoxCanary.sample()
      endStable =
        math.abs(next._1 - prevEnd._1) <= 0.05 * math.min(next._1, prevEnd._1)
      prevEnd = next
      endSamples += 1
    }
    val canary1 = prevEnd
    // min elapsed across passes; the reported steal is the one measured
    // DURING the winning pass (the annotation travels with the number).
    // Pairwise merge preserves the two-pass semantics: min of the
    // successful elapseds, or the slower (more negative) sentinel when
    // every pass failed.
    val results = ps.reduce { (a, b) =>
      a.map { case (k, v1) =>
        val v2 = b.getOrElse(k, v1)
        val both = Seq(v1, v2)
        val good = both.filter(_._1 >= 0)
        k -> (if (good.nonEmpty) good.minBy(_._1) else both.minBy(_._1))
      }
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v._1 }
      .mkString("{", ",", "}")
    val st = results.map { case (k, v) => s"\"" + k + "\":" + num4(v._2) }
      .mkString("{", ",", "}")
    val total = results.values.map(_._1).filter(_ >= 0).sum
    // "mode" tags the end-sample regime INSIDE canarySec so it survives
    // merge_bench.py's per-leg copy: untagged artifacts predate the
    // retry-until-stable end sampling, so their end samples are only an
    // upper bound and only their START sample describes the window
    val canary =
      s"""{"oneCore":[${num4(canary0._1)},${num4(canary1._1)}],"allCores":[${num4(canary0._2)},${num4(canary1._2)}],"mode":"post-stop-stable","endStable":$endStable,"endSamples":$endSamples}"""
    // Field ORDER is chosen for truncation robustness (r13 verdict item
    // 5/7): the driver captures a bounded stdout TAIL, which keeps the
    // END of this line. With the two ~10 KB per-query maps first and
    // every summary scalar (metric/value/unit/sf/...) last, a tail that
    // cuts the line mid-queries still carries the whole summary —
    // regex-recoverable even though the clipped prefix is not JSON.
    // Same fields as every prior round (JSON object order is not
    // semantic), so round-over-round comparison tooling is unaffected;
    // the complete line is also written to disk below.
    val line =
      s"""{"queries":$qs,"steal":$st,"canarySec":$canary,"metric":"total","value":$total,"unit":"sec","action":"$action","passes":$passes,"sf":"$sfDir","stealFrac":${num4(runSteal)}}"""
    println(line)
    // the driver captures a bounded stdout TAIL (a full suite truncates
    // mid-JSON there), so the complete artifact is also written to disk
    // for round-over-round audits
    // default to a DRIVER-run filename: the committed BENCH_full.json is
    // the builder's isolated min-merge artifact and must not be
    // overwritten by post-round contended runs (builder runs set
    // SPARK_GRAFT_BENCH_OUT=BENCH_full.json explicitly)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_driver.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
  }
}
