package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** S19 — incremental file-discovery ingest: the FILE-LEVEL watermark of
  * every production lake pipeline. A landing root accrues immutable
  * committed drops (one subdirectory per drop, `_SUCCESS`-gated — the
  * unit a distributed writer commits atomically); a MANIFEST records
  * which drops have been absorbed; each tick reads ONLY the manifest
  * complement, so a day's tick costs O(new data) no matter how large
  * the landing history grows, and a drop is never absorbed twice.
  *
  * Crash contract (at-least-once → exactly-once): the tick processes
  * new drops FIRST and records them in the manifest LAST, so a crash
  * between the two replays the same drops — downstream effects must be
  * keyed by the tick's batch id (the MergeLog/index-append discipline
  * elsewhere in this library) for the replay to collapse. The manifest
  * append itself is `_SUCCESS`-gated and batch-keyed: a replayed
  * `record` for a committed tick is a no-op, a torn one rewrites.
  *
  * Scale shape: listing is one FS namespace scan of drop dirs (not
  * data files); the manifest is a tiny text log; the data read
  * touches only the new drops' files, under the landing's schema
  * (no inference job). Nothing corpus-sized moves.
  *
  * Driver round trips: a tick's own report (a few counts) is collected
  * once and stays on the driver as a row — it is never staged or
  * re-sorted through Spark. The jobs a tick starts are the new drops'
  * aggregate and nothing else; `listDrops`/`processed`/`record` are
  * FS-API calls.
  */
object FileManifest {

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Committed drop directories under `landing`, sorted by name — a
    * drop counts once its writer's `_SUCCESS` marker exists; an
    * in-flight or torn drop is invisible.
    */
  def listDrops(spark: SparkSession, landing: String): Seq[String] = {
    val f = fs(spark, landing)
    val root = new org.apache.hadoop.fs.Path(landing)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => f.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .map(_.getName)
      .sorted
  }

  /** Drop names already absorbed, from the committed manifest segments.
    *
    * The manifest is a driver-side-tiny log of NAMES (contract: drop
    * directories, not data), so segments are `_SUCCESS`-gated TEXT
    * files read and written through the FS API directly — the previous
    * one-row-parquet encoding cost a full Spark job per tick on each
    * side (coalesce(1) write + read-and-collect), pure driver latency
    * on a path whose data never leaves the driver (r19, guide §1.2).
    */
  def processed(spark: SparkSession, manifest: String): Set[String] = {
    val f = fs(spark, manifest)
    val root = new org.apache.hadoop.fs.Path(manifest)
    if (!f.exists(root)) Set.empty
    else {
      val segs = f.listStatus(root).toSeq
        .filter(_.isDirectory)
        .map(_.getPath)
        .filter(p => f.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      segs.flatMap { p =>
        val in = f.open(new org.apache.hadoop.fs.Path(p, "drops"))
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(_.nonEmpty).toList
        finally in.close()
      }.toSet
    }
  }

  /** The tick's work list: committed drops not yet in the manifest. */
  def newDrops(spark: SparkSession, landing: String,
               manifest: String): Seq[String] =
    listDrops(spark, landing).filterNot(processed(spark, manifest))

  /** One DataFrame over exactly the given drops, read with the
    * landing's `schema` — the writer contract every drop is committed
    * under, like a table's schema. Reading with it starts no Spark job:
    * the schema-inferring read ran a footer-merge job per tick, a
    * driver round trip that re-derived what the writer already fixed.
    * Pass a non-empty list (an empty read is the caller's concern).
    */
  def readDrops(spark: SparkSession, landing: String, drops: Seq[String],
                schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(drops.map(d => s"$landing/$d"): _*)

  /** Record `drops` as absorbed, as the `_SUCCESS`-gated manifest
    * segment of tick `batchId`. Idempotent: a committed segment for
    * this id makes the call a no-op; a torn one (dir without marker,
    * a crashed prior attempt) is deleted and rewritten.
    */
  def record(spark: SparkSession, manifest: String, drops: Seq[String],
             batchId: Long): Unit = {
    val seg = s"$manifest/m=$batchId"
    val f = fs(spark, manifest)
    val p = new org.apache.hadoop.fs.Path(seg)
    if (f.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) return
    if (f.exists(p)) f.delete(p, true): Unit
    // same commit ordering as the parquet committer: data file first,
    // the _SUCCESS marker's atomic create commits the segment last
    val out = f.create(new org.apache.hadoop.fs.Path(p, "drops"), false)
    out.write(drops.mkString("\n").getBytes("UTF-8")); out.close()
    f.create(new org.apache.hadoop.fs.Path(p, "_SUCCESS"), true).close()
  }
}
