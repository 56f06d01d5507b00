package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation of a closed-loop workload. `items` is the work
  * it does at the stated input size (rows, queries, docs or vectors);
  * `after` runs untimed after it, in traced rounds only. */
final case class Op(kind: String, items: Long, run: () => Unit,
    after: () => Unit = () => ())

/** The outcome of one timed op. */
final case class Sample(kind: String, seconds: Double, ok: Boolean,
    traced: Boolean, items: Long, op: Int)

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, scale: Double, nproc: Int, runDir: String,
    traceOut: String, expect: String, dump: String)

/** Context a workload builds on: the session, its run-private
  * directories and the tracer the traced run switches on. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  /** Set by Main once set-up, warm-up included, is over. */
  var timed = false
  def dir(name: String): String = s"${args.runDir}/$name"
  def parts: Int = args.nproc

  def step[T](name: String)(body: => T): T = Main.step(args.workload, name)(body)
}

trait Workload {
  /** Builds the inputs and indexes, then runs every op kind once,
    * untimed, so first-execution costs stay inside set-up. */
  def setup(): Unit
  /** The next round of ops, in an order drawn from `rng`. Every round
    * runs each op kind the same number of times. */
  def round(rng: java.util.Random): Seq[Op]
  /** Wall time of one warm round on a 4-core box; fixes how many whole
    * rounds a run of --seconds makes, so the work per run does not
    * depend on how fast the box happens to be. */
  def roundSeconds: Double
  /** Kinds whose latencies make up read_p50_s / write_p50_s / op_tail_s. */
  def readKinds: Set[String]
  def writeKinds: Set[String]
  def tailKinds: Set[String]
  /** Output checks after the timed phase; failure messages, if any. */
  def check(samples: Seq[Sample]): Seq[String]
  /** Bytes on disk at the end of the run over logical input bytes. */
  def spaceAmp(): Double
  /** Workload-specific per-layer numbers from the traced rounds. */
  def layers(samples: Seq[Sample]): Map[String, Double] = Map.empty
  /** Write latency when the workload's writes are a step of each op
    * rather than ops of their own; None means use `writeKinds`. */
  def writeSeconds: Option[Map[String, Seq[Double]]] = None
}

object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s",
    "read_p50_s" -> "s", "write_p50_s" -> "s", "items_per_s" -> "1/s",
    "space_amp" -> "ratio", "peak_rss_mb" -> "MB")

  /** Spans reported as the median over ops of their per-op total. */
  val SpanNames: Seq[String] = Seq("ops.build", "ops.sink", "dedup.read_index",
    "dedup.screen", "dedup.append", "sim.emb_read_index", "sim.emb_probe",
    "sim.emb_append")
  /** Layers with own-time spans inside the timed ops. io.Csv and
    * Sentiment run inside JobService.startEtl, so their own time is
    * part of "pipeline"; they are timed on their own outside the op. */
  val Layers: Seq[String] =
    Seq("client", "catalog", "pipeline", "ops", "dedup", "sim")

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("scale").toDouble,
      need("nproc").toInt, need("run-dir"), m.getOrElse("trace-out", ""),
      need("expect"), m.getOrElse("dump", ""))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.nproc}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.runDir}/local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def sinceStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** Runs one set-up step and logs its wall time to stderr. */
  def step[T](workload: String, name: String)(body: => T): T = {
    val t = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] set-up $workload $name: " +
      f"${(System.nanoTime() - t) / 1e9}%.2f s (at ${sinceStart()}%.2f s)")
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  private def byKind(ss: Seq[Sample], kinds: String => Boolean) =
    ss.filter(s => kinds(s.kind)).groupBy(_.kind).map { case (k, v) => k -> v.map(_.seconds) }

  private def p50(ss: Seq[Sample], kinds: String => Boolean): Double = {
    val g = byKind(ss, kinds)
    if (g.isEmpty) 0.0 else Stats.geomeanOfMedians(g)
  }

  /** Tail of the latency-critical kinds; a failed op counts as missing
    * the tail, so any failure sets it to the largest value. */
  private def tail(w: Workload, samples: Seq[Sample]): Stats.Tail = {
    val ts = samples.filter(s => w.tailKinds(s.kind))
    if (ts.isEmpty) Stats.Tail(0.0, 0.0, 0)
    else {
      val t = Stats.tail(ts.map(_.seconds))
      if (ts.forall(_.ok)) t else t.copy(value = Double.MaxValue)
    }
  }

  private def endToEnd(w: Workload, samples: Seq[Sample], setupS: Double,
      timedS: Double, workload: String): Seq[(String, Double, String)] = {
    val good = samples.filter(_.ok)
    val t = tail(w, samples)
    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_s" -> p50(good, _ => true),
      "op_tail_s" -> t.value,
      "read_p50_s" -> p50(good, w.readKinds),
      "write_p50_s" -> w.writeSeconds.map(Stats.geomeanOfMedians)
        .getOrElse(p50(good, w.writeKinds)),
      "items_per_s" -> good.map(_.items).sum / timedS,
      "space_amp" -> w.spaceAmp(),
      "peak_rss_mb" -> peakRssMb())
    System.err.println(f"[perfbench] $workload: ${samples.size} ops " +
      f"(${samples.count(!_.ok)} failed) in $timedS%.2f s; op_tail_s is " +
      f"p${t.pct * 100}%.1f of ${t.n} samples")
    byKind(good, _ => true).toSeq.sortBy(_._1).foreach { case (k, v) =>
      System.err.println(f"[perfbench]   $k%-20s n=${v.size}%-3d " +
        v.map(x => f"$x%.3f").mkString(" "))
    }
    EndToEnd.map { case (n, u) => (n, e2e(n), u) }
  }

  private def perLayer(w: Workload, samples: Seq[Sample], tracer: Tracer,
      probes: Probes, a: Args): Seq[(String, Double, String)] = {
    val good = samples.filter(_.ok)
    val traced = good.filter(_.traced)
    val tracedIds = traced.map(_.op).toSet
    val perSpan = {
      // per op: the sum of that span's durations; then the median
      val byName = tracer.spans.toSeq.filter(s => tracedIds(s.op)).groupBy(_.name)
      SpanNames.map { n =>
        val perOp = byName.getOrElse(n, Seq.empty).groupBy(_.op).values
          .map(_.map(_.seconds).sum).toSeq
        s"${n}_s" -> (if (perOp.isEmpty) 0.0 else Stats.median(perOp))
      }.toMap
    }
    val selfByLayer = {
      // own time per layer over the timed ops (the "op" root is the
      // client's own time); spans under an "aux" root are excluded
      val roots = mutable.Map.empty[Int, String]
      def root(i: Int): String = roots.getOrElseUpdate(i, {
        val s = tracer.spans(i)
        if (s.parent < 0) s.name else root(s.parent)
      })
      val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      tracer.selfSeconds.zipWithIndex.foreach { case ((s, self), i) =>
        if (tracedIds(s.op) && root(i) == "op")
          acc(if (s.name == "op") "client" else s.name.takeWhile(_ != '.')) += self
      }
      Layers.map(l => s"self.${l}_s" -> acc(l) / math.max(1, traced.size)).toMap
    }
    val t = tail(w, samples)
    val all = perSpan ++ selfByLayer ++ probes.perOp(a.nproc) ++ w.layers(good) ++ Map(
      "trace.overhead_s" -> (p50(traced, _ => true) - p50(good.filterNot(_.traced), _ => true)),
      "trace.ops" -> traced.size.toDouble,
      "tail.pct" -> t.pct,
      "tail.samples" -> t.n.toDouble)
    if (a.traceOut.nonEmpty) tracer.writeJsonl(a.traceOut)
    PerLayer.names.map(n => (n, all.getOrElse(n, 0.0), PerLayer.unit(n)))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    java.util.Locale.setDefault(java.util.Locale.US)
    val spark = step(a.workload, "session")(session(a))
    val tracer = new Tracer
    val ctx = new Ctx(spark, a, tracer)
    val w: Workload = a.workload match {
      case "etl_jobs" => new EtlJobs(ctx)
      case "olap_mix" => new OlapMix(ctx)
      case "index_serve" => new IndexServe(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val rng = new java.util.Random(a.seed)
    // one more untimed round: after one warm-up run of each kind, the
    // first timed round still ran 8-20% slower than the second (JIT)
    step(a.workload, "warm-up round")(w.round(rng).foreach(_.run()))
    ctx.timed = true
    val setupS = sinceStart()

    val probes = new Probes(spark, tracer)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    var lastEnd = t0
    // at least two rounds: a traced run needs an untraced and a traced one
    val rounds = math.max(2, math.ceil(a.seconds / w.roundSeconds).toInt)
    for (round <- 0 until rounds) {
      // the traced run alternates untraced and traced rounds, so the
      // tracing overhead is measured inside the same process
      val traced = a.trace && round % 2 == 1
      if (traced) probes.start()
      for (op <- w.round(rng)) {
        val id = samples.size
        val s = System.nanoTime()
        val ok =
          try {
            if (traced) probes.timeOp(id)(tracer.span("op")(op.run()))
            else op.run()
            true
          } catch {
            case NonFatal(e) =>
              System.err.println(s"[perfbench] op ${op.kind} failed: $e")
              e.printStackTrace()
              false
          }
        lastEnd = System.nanoTime()
        samples += Sample(op.kind, (lastEnd - s) / 1e9, ok, traced, op.items, id)
        if (traced && ok) { op.after(); lastEnd = System.nanoTime() }
      }
      if (traced) probes.stop()
    }

    // an op that threw produced no output to check, so it fails the run
    val failures = w.check(samples.toSeq) ++
      samples.filterNot(_.ok).map(s => s"op ${s.op} (${s.kind}) failed")
    failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
    val metrics =
      if (a.trace) perLayer(w, samples.toSeq, tracer, probes, a)
      else endToEnd(w, samples.toSeq, setupS, (lastEnd - t0) / 1e9, a.workload)
    spark.stop()
    val attempted = samples.size
    val failed = samples.count(!_.ok)
    val ms = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$ms}}""")
    System.out.flush()
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
