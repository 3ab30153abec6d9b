package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

/** Benchmark entry point (normally launched by perfbench/run.py):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <scratch dir> --out <results dir>
  *
  * A run starts a session and generates the inputs from the seed
  * [[SetupReps]] times, runs one untimed warm-up cycle, then repeats the
  * workload's cycle in a closed loop with one caller, at local[4], until
  * the timed window is spent. Set-up time is the JVM start, the median
  * session start plus input generation, and the warm-up (cold) cycle.
  * Heap is the live heap after full GCs at the end of the timed window.
  * Traced, the window alternates untraced and traced cycles and is
  * followed by the per-layer probes, the kernel timings and, for a workload
  * that reports scaling, untraced cycles in a fresh local[1] session over
  * the same inputs.
  * Prints every metric by name and unit, then one JSON line. */
object Main {

  val SetupReps = 3
  /** Cycles a traced window runs at least: one untraced, one traced. */
  val MinTracedCycles = 2
  val Layers = Seq("clips", "audio", "run", "compile", "io", "repair", "dedup")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workloads(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val out = opt("out")
    Files.createDirectories(Paths.get(work))
    Files.createDirectories(Paths.get(out))

    val jvmStart = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(s"${w.name}-$seed-${System.currentTimeMillis()}")
    val ctx = new Ctx(seed, work, tracer)
    val localDir = s"$work/spark-local"

    def newSession(threads: Int): Unit = {
      if (ctx.spark != null) ctx.spark.stop()
      ctx.spark = Bench.session(threads, localDir)
    }

    // set-up: session start and input generation, several times (the last
    // session and inputs are kept), then one untimed, checked warm-up cycle
    val prep = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      newSession(4)
      w.generate(ctx, ctx.freshDir(s"input-${r % 2}"))
      (System.nanoTime() - t0) / 1e9
    }
    val warmT0 = System.nanoTime()
    val warm = new CycleLog
    w.cycle(ctx, warm)
    if (warm.calls.isEmpty || warm.failed > 0)
      throw new IllegalStateException(s"warm-up cycle failed: ${warm.calls}")
    val firstCycle = (System.nanoTime() - warmT0) / 1e9
    val setup = jvmStart + Stats.median(prep) + firstCycle
    val metrics = new ArrayBuffer[Metric]
    val extra = new ArrayBuffer[Metric]

    val listener = if (traced) Some(new SpanListener) else None
    listener.foreach(ctx.spark.sparkContext.addSparkListener(_))
    val storage = new ArrayBuffer[Double]

    /** Closed loop: start cycles until the budget is spent and at least
      * `minCycles` ran; `trace(i)` says whether cycle i is traced. */
    def window(budget: Double, trace: Int => Boolean, minCycles: Int = 1): Seq[(CycleLog, Boolean)] = {
      val logs = new ArrayBuffer[(CycleLog, Boolean)]
      val t0 = System.nanoTime()
      while (logs.size < minCycles || (System.nanoTime() - t0) / 1e9 < budget) {
        val i = logs.size
        val log = new CycleLog
        tracer.enabled = trace(i)
        tracer.cycle = i
        w.cycle(ctx, log)
        tracer.enabled = false
        storage += SparkState.storageMb(ctx.spark.sparkContext)
        logs += ((log, trace(i)))
      }
      logs.toSeq
    }

    var all: Seq[CycleLog] = Nil

    if (!traced) {
      val at4 = window(seconds, _ => false).map(_._1)
      all = at4
      val wall4 = Stats.median(at4.map(_.wall))
      metrics += Metric("setup_s", setup, "s")
      metrics += Metric("items_per_s", w.items / wall4, "items/s")
      metrics += Metric("heap_mb", Bench.liveHeapMb(), "MB")
      extra ++= w.figures(at4)
      extra += Metric("items_per_cycle", w.items, w.itemUnit)
      extra += Metric("cycle_s", wall4, "s")
      extra += Metric("cycle_s.min", at4.map(_.wall).min, "s")
      extra += Metric("cycle_s.max", at4.map(_.wall).max, "s")
      extra += Metric("cycles", at4.size, "count")
    } else {
      val logs = window(seconds, _ % 2 == 1, MinTracedCycles)
      all = logs.map(_._1)
      val plain = logs.collect { case (l, false) => l }
      val tracedLogs = logs.collect { case (l, true) => l }
      SparkState.drainListeners(ctx.spark.sparkContext)
      metrics ++= kernelMetrics(seed)
      metrics ++= layerMetrics(tracer.spans.toSeq, tracedLogs, plain, listener.get, storage.toSeq)
      tracer.enabled = true
      tracer.cycle = -1
      extra ++= w.probes(ctx, tracedLogs)
      tracer.enabled = false
      extra ++= Layers.map(l => Metric(s"$l.self_s", selfByLayer(tracer.spans.toSeq, tracedLogs)(l), "s"))
      extra ++= spanSummary(tracer.spans.toSeq, listener.get)
      writeSpans(s"$out/${w.name}-seed$seed-spans.jsonl", tracer)
      if (w.scaling) {
        // untraced cycles at local[1] in a fresh session, against the
        // untraced local[4] cycles of this run's window
        newSession(1)
        val at1 = window(seconds / 2, _ => false).map(_._1)
        all ++= at1
        val wall4 = Stats.median(plain.map(_.wall))
        val wall1 = Stats.median(at1.map(_.wall))
        extra += Metric("scaling_eff", wall1 / wall4 / 4, "ratio")
        extra += Metric("cycle_s.local4", wall4, "s")
        extra += Metric("cycle_s.local1", wall1, "s")
      }
    }
    extra += Metric("jvm_start_s", jvmStart, "s")
    prep.zipWithIndex.foreach { case (s, i) => extra += Metric(s"setup_prep_s.rep$i", s, "s") }
    extra += Metric("first_cycle_s", firstCycle, "s")
    ctx.spark.stop()

    val attempted = all.map(_.calls.size).sum
    val failed = all.map(_.failed).sum
    extra += Metric("ops_failed", failed.toDouble / math.max(1, attempted), "share")
    (metrics ++ extra).foreach(m => println(f"[perfbench] ${w.name} ${m.name} = ${m.value}%.6g ${m.unit}"))
    val json = Json.result(failed == 0 && attempted > 0, attempted, failed, metrics.toSeq)
    Files.writeString(Paths.get(out, s"${w.name}-seed$seed-trace${if (traced) 1 else 0}.json"),
      Json.report(json, extra.toSeq) + "\n")
    println(json)
  }

  /** Spark-free kernel timings on fixed samples drawn from the seed. */
  def kernelMetrics(seed: Long): Seq[Metric] = {
    val clips = Gen.orders(seed, 100).map(Reference.clip)
    val texts = Gen.documents(seed, 100).docs.map(_.text)
    val malformed = Gen.events(seed, 100).map(Gen.malformed)
    Seq(
      Metric("audio.kernel_us_per_clip", Kernels.audioUsPerClip(clips), "us"),
      Metric("dedup.shingle_us_per_doc", Kernels.charShingleUsPerDoc(texts), "us"),
      Metric("dedup.word_shingle_us_per_doc", Kernels.wordShingleUsPerDoc(texts), "us"),
      Metric("repair.us_per_doc", Kernels.repairUsPerDoc(malformed), "us"),
      Metric("repair.strict_us_per_doc", Kernels.strictUsPerDoc(malformed), "us"),
      Metric("repair.fast_path_share", Kernels.strictShare(malformed), "share"))
  }

  def selfByLayer(spans: Seq[Span], traced: Seq[CycleLog]): Map[String, Double] = {
    val cs = spans.filter(_.cycle >= 0)
    val self = Tracer.selfSeconds(cs)
    val n = math.max(1, traced.size)
    Layers.map(l => l -> cs.filter(_.layer == l).map(s => self(s.id)).sum / n).toMap
  }

  /** Per-layer metrics of the traced cycles: self-time shares, the share of
    * the timed wall no span covers, the tracing overhead, and listener
    * counts per cycle. */
  def layerMetrics(spans: Seq[Span], traced: Seq[CycleLog], plain: Seq[CycleLog],
      l: SpanListener, storage: Seq[Double]): Seq[Metric] = {
    val cs = spans.filter(_.cycle >= 0)
    val timed = traced.map(_.wall).sum
    val self = selfByLayer(spans, traced)
    val top = cs.filter(_.parent == -1).map(_.seconds).sum
    val byCycle = cs.groupBy(_.cycle).values.toSeq
    def perCycle(f: l.Acc => Long): Double =
      Stats.median(byCycle.map(ss => ss.flatMap(s => Option(l.bySpan.get(s.id))).map(f).sum.toDouble))
    val skew = Stats.median(byCycle.map { ss =>
      val stages = ss.flatMap(s => l.spanTaskTimes(s.id))
      if (stages.isEmpty) 1.0
      else {
        val widest = stages.maxBy(_.size)
        widest.max.toDouble / math.max(1.0, Stats.median(widest.map(_.toDouble)))
      }
    })
    Layers.map(layer => Metric(s"$layer.self_share", self(layer) * traced.size / timed, "share")) ++ Seq(
      Metric("trace.uncovered_share", math.max(0.0, 1 - top / timed), "share"),
      Metric("trace.overhead", Stats.median(traced.map(_.wall)) / Stats.median(plain.map(_.wall)) - 1, "ratio"),
      Metric("spark.jobs", perCycle(_.jobs), "count"),
      Metric("spark.tasks", perCycle(_.tasks), "count"),
      Metric("spark.executor_run_ms", perCycle(_.runMs), "ms"),
      Metric("spark.task_skew", skew, "ratio"),
      Metric("spark.shuffle_write_bytes", perCycle(_.shuffleWrite), "bytes"),
      Metric("spark.shuffle_read_bytes", perCycle(_.shuffleRead), "bytes"),
      Metric("spark.spill_bytes", perCycle(_.spill), "bytes"),
      Metric("spark.gc_ms", perCycle(_.gcMs), "ms"),
      Metric("spark.storage_mb_after", storage.max, "MB"))
  }

  /** Per span name: median wall, self time, jobs and executor time per call
    * (traced cycles and probes alike). */
  def spanSummary(spans: Seq[Span], l: SpanListener): Seq[Metric] = {
    val self = Tracer.selfSeconds(spans)
    spans.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (name, ss) =>
      def med(f: Span => Double) = Stats.median(ss.map(f))
      def acc(s: Span) = Option(l.bySpan.get(s.id))
      Seq(
        Metric(s"span.$name.wall_s", med(_.seconds), "s"),
        Metric(s"span.$name.self_s", med(s => self(s.id)), "s"),
        Metric(s"span.$name.jobs", med(s => acc(s).map(_.jobs.toDouble).getOrElse(0.0)), "count"),
        Metric(s"span.$name.executor_run_ms", med(s => acc(s).map(_.runMs.toDouble).getOrElse(0.0)), "ms"))
    }
  }

  private def writeSpans(path: String, t: Tracer): Unit = {
    val lines = t.spans.map(s =>
      s"""{"run": "${t.runId}", "id": ${s.id}, "parent": ${s.parent}, "cycle": ${s.cycle}, """ +
        s""""name": "${s.name}", "layer": "${s.layer}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def metrics(ms: Seq[Metric]): String =
    ms.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Int, failed: Int, ms: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metrics(ms)}}"""

  def report(result: String, extra: Seq[Metric]): String =
    s"""{"result": $result, "extra": ${metrics(extra)}}"""
}
