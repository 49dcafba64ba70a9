package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.Graft

/** Runs one workload and prints its result as the last stdout line,
  * prefixed with `PERFBENCH_RESULT `. `perfbench/run.py` builds this
  * program, launches it and turns that line into the benchmark's
  * result.
  *
  * A run: create the session, prepare the inputs three times (median
  * reported), run one untimed warm-up pass that checks every output,
  * time a CPU calibration kernel, settle the JIT with untimed passes,
  * then repeat timed passes until `--seconds` have gone by, and check
  * every query's rows once more. With `--trace 1`, untraced and traced
  * passes alternate instead, the trace is written to `--out`, and the
  * per-layer metrics are reported.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: Path, work: Path, out: Path, digests: Path)

  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).collect { case Seq(k, v) => k -> v }.toMap
    def get(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing argument $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", Paths.get(get("--data")),
      Paths.get(get("--work")), Paths.get(get("--out")),
      Paths.get(get("--digests")))
  }

  /** Length of the untimed settle phase between warm-up and timing. */
  val SettleSeconds = 15.0

  /** Fewest timed passes a run measures, however long they take. */
  val MinPasses = 3

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A fixed single-threaded CPU kernel: SHA-256 over 64 MiB. Its time
    * indexes the host's ambient load and no change to the engine can
    * move it.
    */
  def calibrate(): Double = {
    val buf = Array.tabulate[Byte](1 << 20)(_.toByte)
    Stats.median((0 until 3).map { _ =>
      val md = MessageDigest.getInstance("SHA-256")
      val t0 = System.nanoTime()
      for (_ <- 0 until 64) md.update(buf)
      md.digest()
      since(t0)
    })
  }

  /** Heap in use after forced GCs. A GC lets Spark's context cleaner
    * release the pass's broadcasts and shuffles on its own thread, and
    * only a later GC collects what it released; how long the cleaner
    * takes depends on the host. So GC until the heap stops shrinking by
    * more than 1 MiB, at most eight times.
    */
  def heapMb(): Double = {
    def used() = {
      Thread.sleep(100)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = Double.MaxValue
    var next = used()
    var rounds = 1
    while (last - next > 1.0 && rounds < 8) {
      last = next
      next = used()
      rounds += 1
    }
    next
  }

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU seconds of the calling thread: the driver thread runs analysis,
    * planning, code generation and every driver loop. Unlike wall time
    * it does not count time the host took away from this machine.
    */
  def threadCpuS(): Double = threads.getCurrentThreadCpuTime / 1e9

  def readDigests(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, UTF_8).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap

  final case class PassResult(wallS: Double, cpuS: Double,
      driverCpuS: Double, heapMb: Double,
      items: Seq[ItemRun], itemSeconds: Map[String, Double], stealS: Double)

  /** Seconds of CPU the hypervisor has stolen from this machine, summed
    * over its CPUs (the `steal` column of /proc/stat); 0 where the
    * kernel does not report it.
    */
  def stolenS(): Double = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (f(0) == "cpu" && f.length > 8) f(8).toDouble / 100 else 0.0
  } catch { case NonFatal(_) => 0.0 }

  def main(argv: Array[String]): Unit = {
    val entered = System.currentTimeMillis()
    val a = parse(argv.toSeq)
    val w = Workloads.byName(a.workload)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val tSession = System.nanoTime()
    val spark = Graft.session("perfbench", s"local[$cores]")
    spark.conf.set("spark.graft.memoize", "false")
    val cpu = new CpuListener
    spark.sparkContext.addSparkListener(cpu)
    val sessionS = since(tSession)

    // Inputs, prepared three times for a steadier set-up figure; the
    // last copy is used.
    var corpus: Corpus = null
    var inputs: Seq[String] = Nil
    val prepS = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      if (w.isMr) {
        corpus = Corpus.generate(a.seed, w.corpusFiles, w.corpusTokens,
          w.corpusVocab)
        inputs = corpus.write(a.work.resolve(s"corpus-$i"))
      }
      w.queries.map(_._2).distinct.map(a.data.resolve).foreach { d =>
        if (!Files.isDirectory(d))
          throw new IllegalStateException(s"no input tables at $d")
      }
      since(t0)
    }

    val expected = readDigests(a.digests)
    val outRoot = a.work.resolve("mr-out")
    val items: Seq[Item] = new scala.util.Random(a.seed).shuffle(
      if (w.isMr) Workloads.mrApps.map { case (app, comb) =>
        new MrItem(spark, app, comb, corpus, inputs, outRoot) }
      else w.queries.map { case (q, sf) =>
        new QueryItem(spark, q, a.data.resolve(sf).toString, expected.get(q)) })

    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def attempt(item: Item, what: String)(f: => Option[String]): Unit = {
      attempted += 1
      val err = try f catch { case NonFatal(e) => Some(e.toString) }
      err.foreach { m =>
        failures += s"${item.name} ($what): $m"
        System.err.println(s"perfbench: FAILED ${item.name} ($what): $m")
      }
    }

    val tWarm = System.nanoTime()
    items.foreach(it => attempt(it, "warm-up")(it.warm()))
    val warmS = since(tWarm)
    val setupS = sessionS + Stats.median(prepS) + warmS

    val calibS = calibrate()
    val sc = spark.sparkContext
    var passNo = 0

    def runPass(tracer: Option[TraceListener]): PassResult = {
      passNo += 1
      tracer.foreach(_.attach(spark))
      val runs = mutable.ArrayBuffer.empty[ItemRun]
      val secs = mutable.LinkedHashMap.empty[String, Double]
      val ran = mutable.ArrayBuffer.empty[Item]
      TraceListener.drain(sc)
      cpu.take()
      val steal0 = stolenS()
      val driver0 = threadCpuS()
      val t0 = System.nanoTime()
      items.zipWithIndex.foreach { case (it, i) =>
        val id = s"p$passNo.$i.${it.name}"
        sc.setLocalProperty(TraceListener.ItemProperty, id)
        val s = System.currentTimeMillis()
        val ti = System.nanoTime()
        var built = s
        var analysisMs = 0L
        attempt(it, s"pass $passNo") {
          val result = it.build()
          built = System.currentTimeMillis()
          analysisMs = result.queryExecution.tracker.phases
            .get("analysis").fold(0L)(_.durationMs)
          it.sink(result)
          ran += it
          None
        }
        secs(it.name) = since(ti)
        runs += ItemRun(id, it.name, it.kind, s, built,
          System.currentTimeMillis(), analysisMs)
      }
      val wall = since(t0)
      val steal = stolenS() - steal0
      val driverCpu = threadCpuS() - driver0
      sc.setLocalProperty(TraceListener.ItemProperty, null)
      TraceListener.drain(sc)
      val cpuS = cpu.take()
      tracer.foreach(_.detach(spark))
      // one failure per attempt: only runs that returned are checked
      ran.foreach { it =>
        (try it.checkRun() catch { case NonFatal(e) => Some(e.toString) })
          .foreach { m =>
            failures += s"${it.name} (check, pass $passNo): $m"
            System.err.println(s"perfbench: WRONG ${it.name} (pass $passNo): $m")
          }
      }
      // A trivial closing query, so that what only the pass's last query
      // still references is the same whatever the item order; the heap
      // then shows state that outlives queries.
      spark.range(1).count()
      PassResult(wall, cpuS, driverCpu, heapMb(), runs.toSeq, secs.toMap,
        steal)
    }

    // Settle: untimed passes until the JIT has compiled the hot paths.
    // After the first pass, pass times still fall by a third over the
    // next 10 to 15 s on 4 cores, then hold; timing that stretch would
    // measure the JIT. Settling is bounded in seconds, so it is neither
    // set-up (it would read as a constant) nor measured.
    val tSettle = System.nanoTime()
    val settled = mutable.ArrayBuffer.empty[Double]
    do settled += runPass(None).wallS while (since(tSettle) < SettleSeconds)
    val settleS = since(tSettle)

    val tMeasure = System.nanoTime()
    val untraced = mutable.ArrayBuffer.empty[PassResult]
    val traced = mutable.ArrayBuffer.empty[(PassResult, Seq[Span], Map[String, Double])]
    def tracedPass(): Unit = {
      val t = new TraceListener
      val p = runPass(Some(t))
      val run = (p.items.head.start, p.items.last.end)
      val (spans, m) = t.pass(s"run-$passNo", run, p.items, cores,
        if (corpus == null) 0L else corpus.tokens)
      traced += ((p, spans, m))
    }
    do {
      // traced runs alternate which of each pair goes first, so the
      // overhead estimate does not carry the pairs' order
      if (a.trace && untraced.size % 2 == 1) tracedPass()
      untraced += runPass(None)
      if (a.trace && untraced.size % 2 == 1) tracedPass()
    } while (since(tMeasure) < a.seconds || untraced.size < MinPasses)

    // The no-op sink of a timed pass leaves nothing to check, so every
    // query's rows are checked again now, after the timed passes: a
    // result that goes wrong only after repeated passes counts as failed.
    items.collect { case q: QueryItem => q }
      .foreach(q => attempt(q, "final check")(q.warm()))

    val walls = untraced.map(_.wallS).toSeq
    val summary = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> a.seed, "cores" -> cores,
      "trace" -> a.trace, "order" -> items.map(_.name),
      "passes" -> untraced.size,
      "wall_s_samples" -> walls, "cpu_s_samples" -> untraced.map(_.cpuS),
      "heap_mb_samples" -> untraced.map(_.heapMb),
      "steal_s_samples" -> untraced.map(_.stealS),
      "driver_cpu_s_samples" -> untraced.map(_.driverCpuS),
      "session_s" -> sessionS, "prepare_s_samples" -> prepS,
      "warmup_s" -> warmS, "host_calib_s" -> calibS,
      "settle_s" -> settleS, "settle_wall_s_samples" -> settled,
      "item_s" -> items.map(it => it.name -> untraced.map(_.itemSeconds(it.name))).toMap,
      "failures" -> failures)
    Stats.tailPercentile(untraced.flatMap(_.itemSeconds.values).toSeq)
      .foreach { case (p, v) => summary("item_tail") = Map("percentile" -> p,
        "seconds" -> v, "samples" -> untraced.map(_.items.size).sum) }

    val metrics: Map[String, Double] =
      if (!a.trace) Map(
        "cpu_s" -> Stats.median(untraced.map(_.cpuS).toSeq),
        "retained_heap_mb" -> Stats.median(untraced.map(_.heapMb).toSeq),
        "driver_cpu_s" -> Stats.median(untraced.map(_.driverCpuS).toSeq),
        "setup_s" -> setupS)
      else {
        // bridge to the count() series: one count() per item, next to
        // its materialized time in this run
        val bridge = items.map { it =>
          val t0 = System.nanoTime()
          attempt(it, "count") { it.count(); None }
          (it.name, since(t0),
            Stats.median(untraced.map(_.itemSeconds(it.name)).toSeq))
        }
        val layers = traced.head._3.keys.map(k =>
          k -> Stats.median(traced.map(_._3(k)).toSeq)).toMap
        val tracedWall = Stats.median(traced.map(_._1.wallS).toSeq)
        val spans = traced.flatMap(_._2).toSeq
        val children = spans.groupBy(_.parent)
        val selfS = spans.groupBy(_.kind).map { case (k, ss) =>
          k -> ss.map(s => Stats.selfTime(s.interval,
            children.getOrElse(s.id, Nil).map(_.interval))).sum / 1e3 }
        val all = layers ++ Map(
          "run.wall_s" -> Stats.median(walls),
          "host.calib_s" -> calibS,
          "host.steal_s" -> Stats.median(untraced.map(_.stealS).toSeq),
          "trace.overhead_s" -> (tracedWall - Stats.median(walls)),
          "bridge.count_s" -> bridge.map(_._2).sum,
          "bridge.materialize_s" -> bridge.map(_._3).sum)
        summary ++= Seq(
          "traced_wall_s_samples" -> traced.map(_._1.wallS),
          "self_time_s" -> selfS,
          "bridge" -> bridge.map { case (n, c, m) =>
            Map("item" -> n, "count_s" -> c, "materialize_s" -> m) },
          "per_layer" -> all,
          "spans" -> spans.map(s => Map(
            "id" -> s.id, "kind" -> s.kind, "name" -> s.name,
            "parent" -> s.parent, "item" -> s.item, "start_ms" -> s.start,
            "end_ms" -> s.end, "counts" -> s.counts.toJson)))
        all
      }

    Files.createDirectories(a.out)
    val file = a.out.resolve(
      s"${w.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
    Files.write(file, Json.render(summary).getBytes(UTF_8))
    spark.stop()

    val result = Map(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "metrics" -> metrics,
      "setup_in_jvm_s" -> setupS,
      "main_entered_ms" -> entered)
    println("PERFBENCH_RESULT " + Json.render(result))
  }
}
