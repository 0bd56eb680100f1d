package perfbench

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Shared run state. `spark` changes when a section restarts the session. */
final class Ctx(val work: Path, val seed: Long, val cores: Int) {
  var spark: SparkSession = _
  def dir(name: String): String = work.resolve(name).toString

  /** Start a fresh session on `local[n]`; returns the seconds it took. */
  def start(n: Int = cores): Double = {
    if (spark != null) spark.stop()
    val t0 = System.nanoTime()
    spark = SparkSession.builder()
      .master(s"local[$n]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (System.nanoTime() - t0) / 1e9
  }
}

/** Expected outputs, written next to the inputs by the JVM that makes
  * them and read back by the JVMs that measure. */
object Store {
  def save(p: Path, v: java.io.Serializable): Unit = {
    Files.createDirectories(p.getParent)
    val out = new ObjectOutputStream(Files.newOutputStream(p))
    try out.writeObject(v) finally out.close()
  }

  def load[T](p: Path): T = {
    val in = new ObjectInputStream(Files.newInputStream(p))
    try in.readObject().asInstanceOf[T] finally in.close()
  }
}

/** Seconds spent in each of a repetition's two phases. */
final case class Phases(a: Double, b: Double) { def total: Double = a + b }

/** One benchmark workload. A repetition runs two phases a user would
  * see; `check` validates the outputs a repetition left at rest. */
trait Workload {
  /** Names of the two phases' throughputs, for the human summary. */
  def phaseNames: (String, String)
  /** Items each phase processes per repetition. */
  def items: (Long, Long)
  /** Parameters recorded in the summary. */
  def params: String
  /** Write the inputs and the expected outputs under the work directory. */
  def generate(): Unit
  def rep(i: Int, tr: Tracer, probe: Probe): Phases
  def check(i: Int): Option[String]
  def cleanup(i: Int): Unit
  /** Traced-only measurements of this workload's layers. */
  def sections(tr: Tracer, probe: Probe, untraced: Seq[Phases]): Map[String, Double]
}

/** One run of one workload is two JVMs over one work directory (see
  * perfbench/run.py): `--mode generate` writes the inputs and the expected
  * outputs; `--mode measure` times the set-up and then the repetitions.
  * The set-up is a session start plus the warm-up repetition in a JVM that
  * has run nothing else, so it includes class loading, JIT and Spark code
  * generation. */
object Main {
  /** Checked but untimed repetitions between the set-up and the timed
    * ones, while the JIT settles: at least `Settle` of them, for at least
    * `SettleS` seconds. */
  val Settle = 1
  val SettleS = 6.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val mode = opts("mode")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val traceOut = opts.get("trace-out").map(Paths.get(_).toAbsolutePath)
    Files.createDirectories(work)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val ctx = new Ctx(work, seed, cores)
    Jvm.install()

    val w: Workload = workload match {
      case "pip_flagship" => new PipFlagship(ctx)
      case "aerial_roundtrip" => new AerialRoundtrip(ctx)
      case other => Console.err.println(s"unknown workload: $other"); sys.exit(2)
    }
    val tr = new Tracer(traced)
    val probe = new Probe(() => ctx.spark.sparkContext, cores)
    var attempted = 0
    var failed = 0
    var repNo = 0

    /** Run, time and check one repetition; None if it threw or was wrong. */
    def attempt(tracedRep: Boolean): Option[(Phases, Option[RepCounters])] = {
      val i = repNo; repNo += 1
      attempted += 1
      val res = try {
        val (ph, counters) = probe.measure(tracedRep) {
          w.rep(i, if (tracedRep) tr else Tracer.Off, probe)
        }
        Console.err.println(f"rep $i: ${ph.a}%.3f s + ${ph.b}%.3f s" + (if (tracedRep) " traced" else ""))
        w.check(i) match {
          case None => Some((ph, counters))
          case Some(msg) => Console.err.println(s"rep $i: wrong output: $msg"); None
        }
      } catch {
        case e: Throwable =>
          Console.err.println(s"rep $i: failed: $e"); None
      } finally {
        try w.cleanup(i) catch { case _: Throwable => () }
      }
      if (res.isEmpty) failed += 1
      System.gc()
      res
    }

    def result(metrics: Seq[(String, Double, String)]): Unit = {
      if (ctx.spark != null) ctx.spark.stop()
      val body = metrics.map { case (n, v, u) =>
        s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
      }.mkString(",")
      println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
      sys.exit(0)
    }

    if (mode == "generate") {
      val g0 = System.nanoTime()
      w.generate()
      Console.err.println(f"[$workload] seed=$seed generated in ${(System.nanoTime() - g0) / 1e9}%.2f s")
      if (ctx.spark != null) ctx.spark.stop()
      sys.exit(0)
    }

    val startS = ctx.start()
    val setupS = attempt(tracedRep = false).map(startS + _._1.total).getOrElse(Double.NaN)
    Console.err.println(f"[$workload] seed=$seed cores=$cores ${w.params} setup_s=$setupS%.3f")

    val s0 = System.nanoTime()
    var settled = 0
    while (settled < Settle || (System.nanoTime() - s0) / 1e9 < SettleS) {
      attempt(tracedRep = false)
      settled += 1
    }
    Jvm.resetHeapPeak()
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Phases]
    val tracedReps = scala.collection.mutable.ArrayBuffer.empty[(Phases, RepCounters)]
    val t0 = System.nanoTime()
    var k = 0
    // measure for `seconds`, at least two good repetitions; give up after
    // four attempts if every one of them failed
    while (((System.nanoTime() - t0) / 1e9 < seconds || untraced.length < 2) &&
           !(k >= 4 && untraced.isEmpty)) {
      attempt(traced && k % 2 == 1).foreach {
        case (ph, Some(c)) => tracedReps += ((ph, c))
        case (ph, None) => untraced += ph
      }
      k += 1
    }
    val heapMb = Jvm.heapPeakAfterGcMb

    val (ia, ib) = w.items
    val medA = Stats.median(untraced.map(_.a).toSeq)
    val medB = Stats.median(untraced.map(_.b).toSeq)
    val rateA = ia / medA
    val rateB = ib / medB
    val (na, nb) = w.phaseNames
    Console.err.println(f"[$workload] reps=${untraced.length} setup_s=$setupS%.3f " +
      f"$na=$rateA%.1f $nb=$rateB%.1f heap_peak_mb=$heapMb%.1f " +
      f"attempted=$attempted failed=$failed failed_frac=${failed.toDouble / attempted}%.3f")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("phase1_items_per_s", rateA, "items/s"),
        ("phase2_items_per_s", rateB, "items/s"))
      else {
        val sec = try w.sections(tr, probe, untraced.toSeq) catch {
          case e: Throwable =>
            Console.err.println(s"traced sections failed: $e"); failed += 1; attempted += 1
            Map.empty[String, Double]
        }
        val cs = tracedReps.map(_._2).toSeq
        def med(f: RepCounters => Double) = Stats.median(cs.map(f))
        val overhead =
          Stats.median(tracedReps.map(_._1.total).toSeq) / Stats.median(untraced.map(_.total).toSeq) - 1
        val common = Seq(
          ("spark.jobs", med(_.jobs), "count"),
          ("spark.tasks", med(_.tasks), "count"),
          ("spark.driver_gap_s", med(_.driverGapS), "s"),
          ("spark.task_s", med(_.taskS), "s"),
          ("spark.task_cpu_s", med(_.taskCpuS), "s"),
          ("spark.max_task_s", med(_.maxTaskS), "s"),
          ("spark.core_busy_frac", med(_.coreBusyFrac), "ratio"),
          ("spark.shuffle_write_bytes", med(_.shuffleWriteBytes.toDouble), "bytes"),
          ("spark.shuffle_read_bytes", med(_.shuffleReadBytes.toDouble), "bytes"),
          ("spark.spill_bytes", med(_.spillBytes.toDouble), "bytes"),
          ("io.bytes_read", med(_.bytesRead.toDouble), "bytes"),
          ("io.bytes_written", med(_.bytesWritten.toDouble), "bytes"),
          ("jvm.gc_s", med(_.gcS), "s"),
          ("jvm.heap_peak_mb", heapMb, "MB"),
          ("trace.overhead_frac", overhead, "ratio"))
        common ++ Layers.all.map { case (name, unit) => (name, sec.getOrElse(name, 0.0), unit) }
      }

    traceOut.foreach { p =>
      Files.createDirectories(p.getParent)
      Files.writeString(p, tr.toJson)
      val byLayer = tr.selfByLayer.toSeq.sortBy(_._1)
        .map { case (l, s) => f"$l=$s%.3f" }.mkString(" ")
      Console.err.println(s"[$workload] spans=${tr.all.length} self_s by layer: $byLayer -> $p")
    }
    result(metrics)
  }
}

/** The workload-specific per-layer metrics of the traced run. A workload
  * reports 0 for the ones whose layer it never calls. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "io.files_written" -> "count",
    "ops.pip_broadcast_s" -> "s",
    "ops.pip_index_build_ms" -> "ms",
    "ops.pip_probe_ns" -> "ns",
    "pip.scan_s" -> "s",
    "pip.box_s" -> "s",
    "pip.probe_share" -> "ratio",
    "pip.hits" -> "count",
    "pip.scaling_eff_1to4" -> "ratio",
    "pipeline.g2c_call_s" -> "s",
    "pipeline.g2c_exec_s" -> "s",
    "geo.clip_us" -> "us",
    "ops.dense_id_s" -> "s",
    "io.coco_write_s" -> "s",
    "pipeline.c2g_exec_s" -> "s",
    "ops.union_s" -> "s",
    "ops.union_max_task_s" -> "s",
    "geo.ortho_us" -> "us",
    "io.geojson_write_s" -> "s",
    "g2c.annotations" -> "count",
    "c2g.parts" -> "count",
    "lake.run_stage_cold_s" -> "s",
    "lake.lineage_s" -> "s",
    "spark.jobs_per_pair" -> "count",
    "lake.run_stage_resume_s" -> "s",
    "ops.concat_s" -> "s")
}
