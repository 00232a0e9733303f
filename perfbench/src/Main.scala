package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** One benchmark run in a fresh JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --dir RUN_DIR [--break CHECK|all]
  *
  * The session's warehouse and temp files live under RUN_DIR, which the
  * caller creates empty. Sets up `SetupReps` times (the last set-up
  * serves the run), runs the workload's `warmupCycles` untimed, then a
  * fixed number of timed cycles, `--seconds` times the workload's
  * `cyclesPerSecond`, so every run of a workload does the same work.
  * Writes every raw measurement to RUN_DIR/raw.json; `run.py` turns them
  * into metrics. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceRun = a("trace") == "1"
    val dir = Paths.get(a("dir")).toAbsolutePath
    val breakChecks = a.get("break").toSet.flatMap((b: String) => b.split(','))
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = Clock.now()
    val spark = graft.Sessions.local(cpus)
    val sessionStart = Clock.now() - t0
    val rec = new Recorder(spark.sparkContext, traceRun, breakChecks)
    val w: Workload = workload match {
      case "catalog_session" => new CatalogSession(spark, rec, seed, dir)
      case "corpus_session" => new CorpusSession(spark, rec, seed, dir)
      case other => sys.error(s"unknown workload $other")
    }
    (0 until SetupReps).foreach { r =>
      rec.op("setup", "setup", r, traceRun) { w.setup(r); Outcome(1) }
    }
    (0 until w.warmupCycles).foreach(c => w.cycle(c, "warmup", traced = false))

    // at least two timed cycles
    val cycles = math.max(2, math.round(seconds * w.cyclesPerSecond).toInt)
    val gc0 = gcSeconds()
    val cpu0 = Contention.sample()
    val timed0 = Clock.now()
    // the live heap: heap in use after a full collection at the end of
    // each timed cycle (outside every op's clock, and out of gc_s)
    var forcedGc = 0.0
    val liveHeapMb = (0 until cycles).map { c =>
      w.cycle(c, "timed", traced = traceRun)
      val g = gcSeconds()
      System.gc()
      forcedGc += gcSeconds() - g
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val timed1 = Clock.now()
    val cpu1 = Contention.sample()
    val gc1 = gcSeconds()
    if (traceRun) rec.listener.drain()

    val l = rec.listener
    val out = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traceRun, "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "fingerprint" -> w.fingerprint, "ops" -> w.ops,
      "session_start_s" -> sessionStart,
      "timed" -> Seq(timed0, timed1), "cycles" -> cycles,
      "gc_s" -> (gc1 - gc0 - forcedGc),
      "other_cpu_s" -> (cpu1.machineBusyS - cpu0.machineBusyS -
        (cpu1.ownCpuS - cpu0.ownCpuS)),
      "steal_s" -> (cpu1.stealS - cpu0.stealS),
      "listener_s" -> l.busyNs / 1e9,
      "loadavg" -> Contention.loadavg(),
      "live_heap_mb" -> liveHeapMb,
      "samples" -> rec.samples.toSeq.map(s => Json.obj("id" -> s.id,
        "op" -> s.op, "cycle" -> s.cycle, "phase" -> s.phase,
        "start" -> s.start, "end" -> s.end,
        "ok" -> s.ok, "error" -> s.error, "items" -> s.items)),
      "checks" -> rec.checks.toSeq.map(c => Json.obj("name" -> c.name,
        "op_id" -> c.opId, "ok" -> c.ok, "expected" -> c.expected.take(300),
        "got" -> c.got.take(300))),
      "spans" -> rec.spans.toSeq.filter(_ != null).map(s => Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op_id" -> s.opId, "start" -> s.start, "end" -> s.end)),
      "counters" -> rec.counters.toSeq.map { case (id, m) =>
        Json.obj("op_id" -> id, "values" -> Json.obj(m.toSeq: _*)) },
      "sessions" -> l.byOp.toSeq.sortBy(_._1).map { case (id, s) =>
        // skew: max over median task time in the op's longest stage
        val longest = s.stageWall.toSeq.sortBy(-_._2).headOption
          .flatMap(st => s.stageTasks.get(st._1)).map(_.sorted)
        val skew = longest.filter(_.nonEmpty)
          .map(t => t.last / math.max(t(t.size / 2), 1e-3)).getOrElse(1.0)
        Json.obj("op_id" -> id, "jobs" -> s.jobs, "stages" -> s.stages,
          "tasks" -> s.tasks, "task_s" -> s.taskS,
          "shuffle_write_mb" -> s.shuffleWriteBytes / 1048576.0,
          "spill_mb" -> s.spillBytes / 1048576.0, "skew" -> skew,
          "job_intervals" -> s.jobIntervals.toSeq.map(j => Seq(j._1, j._2)))
      })
    Files.writeString(dir.resolve("raw.json"), out.s)
    spark.stop()
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
}

/** Machine-wide busy CPU from /proc/stat next to this process's own CPU:
  * their difference is what other processes used during the run. Steal
  * (time the hypervisor gave the virtual CPUs to someone else) is kept
  * apart. */
object Contention {
  final case class Cpu(machineBusyS: Double, ownCpuS: Double, stealS: Double)

  def sample(): Cpu = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal guest guest_nice;
    // 100 ticks/s; guest time is already counted in user time
    val steal = if (f.length > 7) f(7) else 0L
    val busy = f.take(7).sum - f(3) - f(4)
    val own = ManagementFactory.getOperatingSystemMXBean match {
      case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
      case _ => 0.0
    }
    Cpu(busy / 100.0, own, steal / 100.0)
  }

  def loadavg(): Double =
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
}

/** Just enough JSON for raw.json. */
object Json {
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}"))
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case Raw(s) => s
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
