package graftbench

import java.nio.file.{Files, Paths}

/** The benchmark's JVM: one client running one workload in a closed
  * loop against graft's public functions, writing a raw JSON artifact
  * that `run.py` turns into metrics. Launched by `run.py`; see README.md.
  *
  * Args: --workload query-floor|matmul|tx-upsert --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE --launch-ms EPOCH_MS --cores C
  * --setup-reps K [--n N]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val launchMs = a("launch-ms").toDouble
    val cores = a("cores").toInt
    val setupReps = a("setup-reps").toInt

    Counters.watchGc()
    val t0 = System.nanoTime()
    val spark = graft.Engine.session(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder(spark)
    val bootS = (rec.nowMs - launchMs) / 1e3

    val jobs = new JobListener
    val execs = new ExecListener
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(execs)
    }

    val wl: Workload = workload match {
      case "query-floor" => new QueryFloor(spark, rec, s"$work/query-floor", seed)
      case "matmul" => new MatMul(spark, rec, s"$work/matmul", seed, a.getOrElse("n", "512").toInt)
      case "tx-upsert" => new TxUpsert(spark, rec, s"$work/tx-upsert", seed, traced)
      case other => sys.error(s"unknown workload $other")
    }

    // Set-up: the inputs are built `setupReps` times from nothing and the
    // median build counts, so one slow build does not move setup_s.
    val builds = (1 to setupReps).map { _ =>
      val b0 = rec.nowMs; wl.build(); (rec.nowMs - b0) / 1e3
    }
    val w0 = rec.nowMs
    wl.warmup()
    val warmupS = (rec.nowMs - w0) / 1e3
    val warmupOps = rec.ops.size
    val median = builds.sorted.apply(builds.size / 2)
    val setupS = bootS + median + warmupS
    rec.ops.clear(); rec.spans.clear()

    // The timed window: ops start until `seconds` have passed and the
    // workload is at the end of a pass or cycle; the last op runs to its
    // end. Work after each op (model upkeep, byte accounting) is paused
    // out of the window.
    wl.windowStarts()
    Counters.resetHeapPeak()
    val windowStart = rec.nowMs
    var paused = 0.0
    while (rec.nowMs - windowStart - paused < seconds * 1000 || !wl.atBoundary) {
      wl.step()
      val p0 = rec.nowMs
      wl.afterStep()
      paused += rec.nowMs - p0
    }
    val windowEnd = rec.ops.last.endMs
    val heapPeakMb = Counters.heapPeakAfterGcBytes / 1048576.0
    val windowOps = rec.ops.size

    wl.check()
    if (traced) org.apache.spark.BenchAccess.drain(spark.sparkContext)

    import Json._
    val ops = rec.ops.toSeq.zipWithIndex.map { case (o, i) =>
      obj("id" -> o.id, "kind" -> o.kind, "start_ms" -> o.startMs, "end_ms" -> o.endMs,
        "ok" -> o.ok, "error" -> o.error, "window" -> (i < windowOps),
        "jit_ms" -> (o.after.jitMs - o.before.jitMs), "compiles" -> (o.after.compiles - o.before.compiles),
        "codegen_ns" -> (o.after.codegenNs - o.before.codegenNs), "gc_ms" -> (o.after.gcMs - o.before.gcMs))
    }
    val spans = rec.spans.toSeq.map(s => obj("op" -> s.op, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    val trace =
      if (!traced) Map.empty[String, Any]
      else Map(
        "jobs" -> jobs.jobs.values.toSeq.map(j => obj("id" -> j.id, "op" -> j.op, "desc" -> j.desc,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs)),
        "stages" -> jobs.stages.toSeq.map { s =>
          val g = s.agg
          obj("id" -> s.id, "job" -> s.job, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
            "tasks" -> g.tasks, "empty_tasks" -> g.emptyTasks, "run_ms" -> g.runMs, "cpu_ns" -> g.cpuNs,
            "gc_ms" -> g.gcMs, "sched_delay_ms" -> g.schedDelayMs, "input_rows" -> g.inputRows,
            "input_bytes" -> g.inputBytes, "shuffle_write_bytes" -> g.shuffleWrite,
            "shuffle_read_bytes" -> g.shuffleRead, "spill_bytes" -> g.spill)
        },
        "execs" -> execs.execs.toSeq.map(e => obj("func" -> e.func, "join_rows" -> e.joinRows, "files" -> e.files,
          "phases" -> e.phases.map { case (k, (s, t)) => k -> Seq(s, t) })))
    val out = obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup" -> obj("setup_s" -> setupS, "boot_s" -> bootS, "session_s" -> sessionS,
        "build_s" -> builds, "warmup_s" -> warmupS, "warmup_ops" -> warmupOps),
      "window" -> obj("start_ms" -> windowStart, "end_ms" -> windowEnd, "paused_ms" -> paused),
      "peak_heap_mb" -> heapPeakMb,
      "extra" -> wl.extra,
      "ops" -> ops, "spans" -> spans) ++ trace
    Files.writeString(Paths.get(a("out")), Json.write(out))
    spark.stop()
  }
}

/** Minimal JSON writer for the artifact (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = kv.toMap
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => graft.JsonOut.q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${graft.JsonOut.q(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => graft.JsonOut.q(other.toString)
  }
}
