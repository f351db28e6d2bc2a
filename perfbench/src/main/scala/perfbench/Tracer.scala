package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer

import graft.BenchTelemetry
import org.apache.spark.graftbridge.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Span tracer for one op at a time.
  *
  * A traced op opens an `op` span with five children, run in order:
  * `SparkEntry.build` (the query constructor, including any eager
  * lifecycle actions it runs), `Catalyst.analyze` / `Catalyst.optimize`
  * / `Catalyst.plan` (forcing `qe.analyzed`, `qe.optimizedPlan` and
  * `qe.executedPlan`), and `exec` (the `toRdd` drain). Every span of an
  * op shares its op id. A Spark job is attributed to the span that was
  * open when the job started, and its stages and tasks follow the job.
  *
  * The listeners are attached only while a traced op runs, and the
  * listener bus is drained before they are detached, outside the op's
  * timer. [[CountingFs]] call counters and Hadoop's bytes-written
  * statistic are read before and after the op. Spans (with their self time) are kept in memory and written by
  * [[writeSpans]] at exit.
  */
class Tracer(spark: SparkSession) {
  import Tracer._

  private val t0 = System.nanoTime()
  private val nextId = new AtomicLong(1L)
  private val openSpan = new AtomicLong(0L)
  private val spans = ArrayBuffer[Span]()
  private val accs = new ConcurrentHashMap[Long, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private def acc(span: Long): Acc = accs.computeIfAbsent(span, _ => new Acc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = openSpan.get()
      acc(s).jobs.increment()
      e.stageIds.foreach(id => stageSpan.putIfAbsent(id, s))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      acc(stageSpan.getOrDefault(e.stageInfo.stageId, 0L)).stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc(stageSpan.getOrDefault(e.stageId, 0L))
      a.tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        a.runMs.add(m.executorRunTime)
        a.cpuNs.add(m.executorCpuTime)
        a.gcMs.add(m.jvmGCTime)
        a.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        a.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        a.spill.add(m.diskBytesSpilled)
      }
    }
  }
  private val storage = new BenchTelemetry

  private def span[A](opId: Long, name: String)(body: => A): (A, Span) = {
    val id = nextId.getAndIncrement()
    val parent = openSpan.get()
    val sp = Span(id, if (opId == 0L) id else opId, parent, name, System.nanoTime() - t0)
    openSpan.set(id)
    try {
      val r = body
      (r, sp)
    } finally {
      sp.endNs = System.nanoTime() - t0
      openSpan.set(parent)
      spans += sp
    }
  }

  /** Run one op as a traced span tree. */
  def op(name: String)(build: => DataFrame)(run: DataFrame => Long): Harness.OpRun = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.addSparkListener(storage)
    storage.reset()
    val fs0 = fsStats()
    var rows = -1L
    var error: String = null
    val (_, opSpan) = span(0L, "op") {
      val opId = openSpan.get()
      try {
        val (df, _) = span(opId, "SparkEntry.build")(build)
        val qe = df.queryExecution
        span(opId, "Catalyst.analyze")(qe.analyzed)
        span(opId, "Catalyst.optimize")(qe.optimizedPlan)
        span(opId, "Catalyst.plan")(qe.executedPlan)
        rows = span(opId, "exec")(run(df))._1
      } catch {
        case e: Throwable => error = Harness.describe(e)
      }
    }
    opSpan.label = name
    Bus.drain(sc)
    sc.removeSparkListener(listener)
    sc.removeSparkListener(storage)
    val fs1 = fsStats()
    val kids = spans.filter(_.parent == opSpan.id)
    def kid(n: String) = kids.find(_.name == n)
    def secs(n: String) = kid(n).map(_.dur).getOrElse(0.0)
    def a(n: String) = kid(n).map(s => acc(s.id)).getOrElse(new Acc)
    val all = (opSpan +: kids).map(s => acc(s.id))
    def sum(f: Acc => LongAdder) = all.map(x => f(x).sum()).sum
    val snap = storage.snapshot()
    val stats = OpStats(
      wall = opSpan.dur,
      selfS = opSpan.dur - kids.map(_.dur).sum,
      buildS = secs("SparkEntry.build"), buildJobs = a("SparkEntry.build").jobs.sum(),
      analyzeS = secs("Catalyst.analyze"), optimizeS = secs("Catalyst.optimize"),
      planS = secs("Catalyst.plan"), execS = secs("exec"),
      execJobs = a("exec").jobs.sum(), stages = sum(_.stages), tasks = sum(_.tasks),
      taskRunS = sum(_.runMs) / 1e3, taskCpuS = sum(_.cpuNs) / 1e9,
      taskGcS = sum(_.gcMs) / 1e3,
      shuffleWriteMb = sum(_.shuffleWrite) / 1048576.0,
      shuffleReadMb = sum(_.shuffleRead) / 1048576.0,
      spillMb = sum(_.spill) / 1048576.0,
      fsWriteOps = fs1.writeOps - fs0.writeOps, fsReadOps = fs1.readOps - fs0.readOps,
      fsListOps = fs1.listOps - fs0.listOps,
      fsWrittenMb = (fs1.bytesWritten - fs0.bytesWritten) / 1048576.0,
      storagePeakMb = snap.peakMB, storageEvictDisk = snap.evictDisk)
    Harness.OpRun(name, opSpan.dur, rows, error, Some(stats))
  }

  /** Every span as one JSON line, with self time and attributed work. */
  def writeSpans(path: String): Unit = {
    import Json._
    val lines = spans.sortBy(_.id).map { s =>
      val kids = spans.filter(_.parent == s.id)
      val a = acc(s.id)
      obj("id" -> num(s.id), "op_id" -> num(s.opId), "parent" -> num(s.parent),
        "name" -> str(s.name), "op" -> str(Option(s.label).getOrElse("")),
        "start_s" -> num(s.startNs / 1e9), "dur_s" -> num(s.dur),
        "self_s" -> num(s.dur - kids.map(_.dur).sum),
        "jobs" -> num(a.jobs.sum()), "stages" -> num(a.stages.sum()),
        "tasks" -> num(a.tasks.sum()), "task_run_s" -> num(a.runMs.sum() / 1e3),
        "task_cpu_s" -> num(a.cpuNs.sum() / 1e9))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }

  private def fsStats(): Fs = {
    import scala.jdk.CollectionConverters._
    val bytes = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .map(_.getBytesWritten).sum
    Fs(CountingFs.writes.get(), CountingFs.reads.get(), CountingFs.lists.get(),
      bytes)
  }
}

object Tracer {
  final case class Span(id: Long, opId: Long, parent: Long, name: String,
                        startNs: Long) {
    var endNs: Long = startNs
    var label: String = _
    def dur: Double = (endNs - startNs) / 1e9
  }

  final class Acc {
    val jobs, stages, tasks, runMs, cpuNs, gcMs = new LongAdder
    val shuffleWrite, shuffleRead, spill = new LongAdder
  }

  final case class Fs(writeOps: Long, readOps: Long, listOps: Long,
                      bytesWritten: Long)

  /** One traced op's layer breakdown. */
  final case class OpStats(
      wall: Double, selfS: Double, buildS: Double, buildJobs: Long,
      analyzeS: Double, optimizeS: Double, planS: Double, execS: Double,
      execJobs: Long, stages: Long, tasks: Long, taskRunS: Double,
      taskCpuS: Double, taskGcS: Double, shuffleWriteMb: Double,
      shuffleReadMb: Double, spillMb: Double, fsWriteOps: Long,
      fsReadOps: Long, fsListOps: Long, fsWrittenMb: Double,
      storagePeakMb: Long, storageEvictDisk: Long) {
    def json: String = {
      import Json._
      obj("wall" -> num(wall), "self_s" -> num(selfS), "build_s" -> num(buildS),
        "build_jobs" -> num(buildJobs), "analyze_s" -> num(analyzeS),
        "optimize_s" -> num(optimizeS), "plan_s" -> num(planS),
        "exec_s" -> num(execS), "exec_jobs" -> num(execJobs),
        "stages" -> num(stages), "tasks" -> num(tasks),
        "task_run_s" -> num(taskRunS), "task_cpu_s" -> num(taskCpuS),
        "task_gc_s" -> num(taskGcS), "shuffle_write_mb" -> num(shuffleWriteMb),
        "shuffle_read_mb" -> num(shuffleReadMb), "spill_mb" -> num(spillMb),
        "fs_write_ops" -> num(fsWriteOps), "fs_read_ops" -> num(fsReadOps),
        "fs_list_ops" -> num(fsListOps), "fs_written_mb" -> num(fsWrittenMb),
        "storage_peak_mb" -> num(storagePeakMb),
        "storage_evict_disk" -> num(storageEvictDisk))
    }
  }
}
