package loopbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session (started on first use), its
  * inputs' seed, the measuring time, a per-run directory, and the
  * record and trace.
  */
final case class Ctx(session: () => SparkSession, seed: Long,
                     seconds: Int, traced: Boolean, dir: String, cpus: Int,
                     rec: Record, tr: Trace) {
  lazy val spark: SparkSession = session()

  /** Operations to run: `n` untraced; a traced run adds one, and at
    * least one each of traced and untraced follow the cold first, so the
    * tracing overhead can be read off the two (see [[traceOp]]).
    */
  def ops(n: Int): Int = if (traced) math.max(3, n + 1) else n

  /** Switch tracing for operation `j` (traced run: every even j >= 2). */
  def traceOp(j: Int): Boolean = {
    val on = traced && j >= 2 && j % 2 == 0
    tr.set(on)
    if (on) rec.tracedOps += 1
    on
  }

  /** Record one operation: its headline latency, whether it was
    * traced, and whether it is part of the warm-up that steady-state
    * readings leave out.
    */
  def op(ms: Double, traced: Boolean, warmup: Boolean): Unit = {
    rec.add("op_ms", ms); rec.add("op_traced", if (traced) 1 else 0)
    rec.add("op_warmup", if (warmup) 1 else 0)
    Ctx.log(f"op done: $ms%.0f ms")
  }

  /** Per-operation busy seconds of each layer call since `t0`. */
  def layers(t0: Long, names: String*): Unit =
    names.foreach(n => rec.add(s"${n}_s", tr.seconds(n, t0)))

  /** Run `k` set-ups, timing each (run.py reports their median);
    * returns the last one's result.
    */
  def setup[T](k: Int)(body: Int => T): T =
    (0 until k).map { i =>
      val t0 = System.nanoTime()
      val v = body(i)
      rec.setupS += (System.nanoTime() - t0) / 1e9
      Ctx.log(f"set-up $i: ${rec.setupS.last}%.2f s")
      v
    }.last
}

object Ctx {
  private val start = System.nanoTime()
  /** Progress on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"[loopbench ${sec(start)}%7.2f] $msg")
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def sec(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** The benchmark JVM. run.py starts it as
  * `loopbench.Main --workload W --seed N --seconds S --trace 0|1
  * --dir RUN_DIR --out RAW_JSON`, with `java.io.tmpdir` inside RUN_DIR,
  * and turns the raw record it writes into the printed metrics.
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "train_pipeline" -> TrainPipeline.run,
    "feedback_loop" -> FeedbackLoop.run,
    "serve_predict" -> ServePredict.run,
    "corpus_dedup" -> CorpusDedup.run)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload"))
    val dir = Paths.get(opt("dir")).toAbsolutePath.toString
    val traced = opt("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val rec = new Record(workload, opt("seed").toLong, traced)

    // Host probes first, before the session loads the machine.
    val (cpuS, ioS) = Calib.probe(dir)
    rec.set("host.calib_cpu_s", cpuS)
    rec.set("host.calib_io_s", ioS)

    var started: Option[SparkSession] = None
    def session(): SparkSession = started.getOrElse {
      val t0 = System.nanoTime()
      val s = graft.Sessions.tuned(SparkSession.builder()
          .master(s"local[$cpus]").appName(s"loopbench-$workload")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.warehouse.dir", s"$dir/warehouse")
          .config("spark.local.dir", s"$dir/spark-local"),
          graft.Sessions.shuffleParts(cpus))
        .getOrCreate()
      Ctx.log(f"session up in ${Ctx.sec(t0)}%.2f s")
      started = Some(s)
      s
    }
    val tr = new Trace(() => started.map(_.sparkContext),
      s"$workload-${opt("seed")}-${ProcessHandle.current().pid()}")
    val ctx = Ctx(() => session(), opt("seed").toLong, opt("seconds").toInt,
      traced, dir, cpus, rec, tr)
    // serving needs no Spark; every other workload starts it up front,
    // outside its set-up
    if (workload != "serve_predict") ctx.spark
    try run(ctx)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        rec.attempt(false)
        rec.check("workload completed", ok = false, e.toString)
    }
    tr.set(false)
    Ctx.log("workload done")
    rec.counters = tr.counterTotals()
    rec.set("spark.storage_mb_end", started.map(_.sparkContext
      .getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
      .getOrElse(0.0))
    rec.set("spark.tmp_mb_end", (dirBytes(Paths.get(
      System.getProperty("java.io.tmpdir"))) +
      dirBytes(Paths.get(s"$dir/spark-local"))) / 1048576.0)
    rec.set("jvm.mem_peak_mb", peakRssMb())
    if (traced) opt.get("spans").foreach(p =>
      Files.writeString(Paths.get(p), spansJson(tr, rec)))
    Files.writeString(Paths.get(opt("out")), rec.toJson)
    started.foreach(_.stop())
    // The HTTP client and server keep non-daemon threads; end here.
    System.exit(0)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1.0
    else Files.readAllLines(status).toArray(Array[String]())
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(f =>
        scala.util.Try(Files.size(f)).getOrElse(0L)).sum()
      finally s.close()
    }

  /** Every span, and the listener's counter totals per span name. */
  private def spansJson(tr: Trace, rec: Record): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode().put("run_id", tr.runId)
      .put("traced_ops", rec.tracedOps)
    val arr = root.putArray("spans")
    tr.allSpans.foreach { s =>
      arr.addObject().put("id", s.id).put("name", s.name)
        .put("parent", s.parent).put("start_ns", s.startNs)
        .put("end_ns", s.endNs).put("run_id", tr.runId)
    }
    val co = root.putObject("counters")
    rec.counters.foreach { case (span, cs) =>
      val o = co.putObject(span); cs.foreach { case (k, v) => o.put(k, v) } }
    m.writeValueAsString(root)
  }
}

/** Host calibration probes: a fixed CPU loop and a fixed write + fsync
  * + read, each the median of three. Reported beside the metrics so a
  * slow host shows, and never used to rescale them.
  */
object Calib {
  def probe(dir: String): (Double, Double) = {
    def median3(f: => Unit): Double = {
      val ts = (0 until 3).map { _ =>
        val t0 = System.nanoTime(); f; Ctx.sec(t0) }.sorted
      ts(1)
    }
    var sink = 0L
    val cpu = median3 {
      var x = 88172645463325252L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
      }
      sink += x
    }
    if (sink == 42) println(sink) // keeps the loop from being elided
    Files.createDirectories(Paths.get(dir))
    val f = Paths.get(dir, "calib.bin")
    val block = java.nio.ByteBuffer.allocate(1 << 20)
    val io = median3 {
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try {
        (0 until 8).foreach { _ => block.clear(); ch.write(block) }
        ch.force(true)
      } finally ch.close()
      Files.readAllBytes(f)
      ()
    }
    Files.deleteIfExists(f)
    (cpu, io)
  }
}
