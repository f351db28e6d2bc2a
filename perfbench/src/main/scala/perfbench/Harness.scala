package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.{Frames, GraftSession, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow

/** Closed-loop benchmark harness: one client thread, one op at a time.
  *
  * An op is one `SparkEntry.queries(id)(spark, dir)` build plus a full
  * `queryExecution.toRdd` drain; a pass runs the workload's mix once in
  * a seeded order. `Frames.scrubSession` runs between ops, outside every
  * op timer.
  *
  * Flow: `--setups` set-ups, each a fresh `GraftSession.local` session,
  * the ten table loads and one warm-up pass (the first set-up's warm-up
  * writes every op's rows under `<out>/check` for the DuckDB oracle);
  * then timed passes until `--seconds` have elapsed. With `--trace 1`
  * the timed passes alternate untraced / traced, and traced ops are
  * split into spans (see [[Tracer]]).
  *
  * Raw measurements land in `<out>/result.json` (and `<out>/spans.jsonl`
  * when tracing); `perfbench/run.py` turns them into metrics.
  *
  * Usage: `Harness <dataDir> <outDir> <ops,comma,separated> <seed>
  *   <seconds> <trace 0|1> <setups> <cores>`
  */
object Harness {

  final case class OpRun(op: String, lat: Double, rows: Long, error: String,
                         span: Option[Tracer.OpStats])

  final case class Pass(traced: Boolean, ops: Seq[OpRun], scrubS: Double)

  def main(argv: Array[String]): Unit = {
    val Array(dataDir, outDir, opList, seedS, secondsS, traceS, setupsS,
      coresS) = argv
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val ops = opList.split(",").toSeq
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    val all = SparkEntry.queries
    val byShort = all.keys.map(k => k.takeWhile(_ != '_') -> k).toMap
    val fns = ops.map { id =>
      id -> all(byShort.getOrElse(id, sys.error(s"unknown op $id")))
    }.toMap
    Files.createDirectories(Paths.get(outDir))

    // ---- set-ups ---------------------------------------------------
    val setupS, sessionS, loadS = ArrayBuffer[Double]()
    val failures = ArrayBuffer[(String, String)]()
    val warmRows = scala.collection.mutable.Map[String, Long]()
    var spark: SparkSession = null
    val nSetups = setupsS.toInt
    for (k <- 1 to nSetups) {
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores)
      val t1 = System.nanoTime()
      Tables.names.foreach(t => Tables.load(spark, dataDir, t))
      val t2 = System.nanoTime()
      ops.foreach { op =>
        try {
          val df = fns(op)(spark, dataDir)
          if (k == 1)
            df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/check/$op")
          else warmRows(op) = drain(spark, df)
        } catch {
          case e: Throwable => failures += (op -> s"warm-up: ${describe(e)}")
        }
        Frames.scrubSession(spark)
      }
      val t3 = System.nanoTime()
      setupS += (if (k == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
                 else (t3 - t0) / 1e9)
      sessionS += (t1 - t0) / 1e9
      loadS += (t2 - t1) / 1e9
      if (k < nSetups) spark.stop()
    }

    // ---- timed passes ----------------------------------------------
    val calMs = { (1 to 20).foreach(_ => Host.calSpin()); (1 to 5).map(_ => Host.calSpin()) }
    val host0 = Host.snapshot()
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val rnd = new scala.util.Random(seed)
    val passes = ArrayBuffer[Pass]()
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    val minPasses = if (trace) 2 else 1
    while (passes.size < minPasses || elapsed < seconds) {
      val traced = tracer.isDefined && passes.size % 2 == 1
      var scrub = 0.0
      val runs = rnd.shuffle(ops).map { op =>
        val r = tracer.filter(_ => traced) match {
          case Some(tr) => tr.op(op)(fns(op)(spark, dataDir))(drain(spark, _))
          case None => timed(op)(drain(spark, fns(op)(spark, dataDir)))
        }
        val s0 = System.nanoTime()
        Frames.scrubSession(spark)
        val sc = (System.nanoTime() - s0) / 1e9
        scrub += sc
        r
      }
      passes += Pass(traced, runs, scrub)
    }
    val window = elapsed
    val host1 = Host.snapshot()
    val rssMb = Host.vmHwmMb()
    tracer.foreach(_.writeSpans(s"$outDir/spans.jsonl"))
    spark.stop()

    // ---- raw result ------------------------------------------------
    import Json._
    val json = obj(
      "setup_s" -> arr(setupS.map(num)),
      "session_s" -> arr(sessionS.map(num)),
      "load_s" -> arr(loadS.map(num)),
      "warm_rows" -> obj(warmRows.toSeq.map { case (k, v) => k -> num(v) }: _*),
      "failures" -> arr(failures.map { case (o, e) => obj("op" -> str(o), "error" -> str(e)) }),
      "window_s" -> num(window),
      "peak_rss_mb" -> num(rssMb),
      "cores" -> num(cores),
      "host" -> obj(
        "run_delay_s" -> num((host1.runDelayNs - host0.runDelayNs) / 1e9),
        "steal_pct" -> num(Host.stealPct(host0, host1)),
        "load1" -> num(host0.load1),
        "cal_ms" -> num(calMs.sorted.apply(calMs.size / 2))),
      "oracle_sql" -> obj(ops.map(o => o -> str(SparkEntry.oracleSql(byShort(o)))): _*),
      "passes" -> arr(passes.map { p =>
        obj("traced" -> bool(p.traced), "scrub_s" -> num(p.scrubS),
          "ops" -> arr(p.ops.map { r =>
            obj(Seq("op" -> str(r.op), "lat" -> num(r.lat), "rows" -> num(r.rows),
              "error" -> (if (r.error == null) "null" else str(r.error))) ++
              r.span.map(s => "trace" -> s.json).toSeq: _*)
          }))
      }))
    Files.writeString(Paths.get(s"$outDir/result.json"), json)
  }

  /** Full evaluation of every row and column, counting rows. */
  def drain(spark: SparkSession, df: DataFrame): Long = {
    val acc = spark.sparkContext.longAccumulator("perfbench.rows")
    df.queryExecution.toRdd.foreachPartition { (it: Iterator[InternalRow]) =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      acc.add(n)
    }
    acc.value
  }

  private def timed(op: String)(body: => Long): OpRun = {
    val t0 = System.nanoTime()
    try {
      val rows = body
      OpRun(op, (System.nanoTime() - t0) / 1e9, rows, null, None)
    } catch {
      case e: Throwable =>
        OpRun(op, (System.nanoTime() - t0) / 1e9, -1L, describe(e), None)
    }
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def bool(v: Boolean): String = v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Contention readings, taken outside every timer. */
object Host {
  final case class Snap(runDelayNs: Long, steal: Long, jiffies: Long,
                        load1: Double)

  private def read(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path))) catch {
      case _: Throwable => ""
    }

  /** Σ field 2 (run-queue wait, ns) of every thread's schedstat. */
  private def runDelayNs(): Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) -1L
    else tasks.toSeq.map { t =>
      read(s"${t.getPath}/schedstat").trim.split("\\s+") match {
        case Array(_, wait, _*) => wait.toLong
        case _ => 0L
      }
    }.sum
  }

  def snapshot(): Snap = {
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    val load = read("/proc/loadavg").trim.split("\\s+").headOption
      .flatMap(_.toDoubleOption).getOrElse(-1.0)
    Snap(runDelayNs(), if (cpu.length > 7) cpu(7) else -1L,
      cpu.take(8).sum, load)
  }

  def stealPct(a: Snap, b: Snap): Double =
    if (a.steal < 0 || b.jiffies <= a.jiffies) -1.0
    else (b.steal - a.steal) * 100.0 / (b.jiffies - a.jiffies)

  /** Peak resident set of this process (VmHWM), MiB. */
  def vmHwmMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Fixed single-thread work, ms: how fast a core runs in this window. */
  def calSpin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 4000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  }
}
