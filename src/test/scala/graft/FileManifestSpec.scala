package graft

import graft.sources.FileManifest
import org.apache.spark.sql.functions._

class FileManifestSpec extends SparkSpec {
  import spark.implicits._

  private def hfs(dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  test("listing gates on _SUCCESS; manifest complement drives ticks; record replay is a no-op") {
    val base = java.nio.file.Files.createTempDirectory("fm").toString
    val landing = s"$base/landing"
    val man = s"$base/man"
    Seq(1L, 2L).toDF("v").coalesce(1).write.parquet(s"$landing/a")
    Seq(3L).toDF("v").coalesce(1).write.parquet(s"$landing/b")
    // a torn drop (crashed writer: no _SUCCESS) must stay invisible
    Seq(9L).toDF("v").coalesce(1).write.parquet(s"$landing/torn")
    val hf = hfs(landing)
    hf.delete(new org.apache.hadoop.fs.Path(s"$landing/torn/_SUCCESS"),
      false): Unit
    assert(FileManifest.listDrops(spark, landing) == Seq("a", "b"))
    val nd = FileManifest.newDrops(spark, landing, man)
    assert(nd == Seq("a", "b"))
    // the schema-given read starts no Spark job (no inference) and
    // returns exactly the rows the schema-inferring read returns
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          ev: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(l)
    val read = try {
      val df = FileManifest.readDrops(spark, landing, nd,
        org.apache.spark.sql.types.StructType.fromDDL("v LONG"))
      org.apache.spark.graftbridge.Bus.drain(spark.sparkContext)
      df
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get == 0L, s"building the drop read ran ${jobs.get} jobs")
    val inferred = spark.read.parquet(nd.map(d => s"$landing/$d"): _*)
    val got = col0[Long](read.select($"v").orderBy($"v"))
    assert(got == Seq(1L, 2L, 3L))
    assert(got == col0[Long](inferred.select($"v").orderBy($"v")))
    FileManifest.record(spark, man, nd, 1L)
    assert(FileManifest.newDrops(spark, landing, man).isEmpty)
    // replay of the committed tick id: no-op, manifest unchanged
    FileManifest.record(spark, man, nd, 1L)
    assert(FileManifest.processed(spark, man) == Set("a", "b"))
  }

  test("a torn manifest segment is invisible and a replayed record rewrites it") {
    val base = java.nio.file.Files.createTempDirectory("fm2").toString
    val landing = s"$base/landing"
    val man = s"$base/man"
    Seq(7L).toDF("v").coalesce(1).write.parquet(s"$landing/c")
    FileManifest.record(spark, man, Seq("c"), 2L)
    val hf = hfs(man)
    hf.delete(new org.apache.hadoop.fs.Path(s"$man/m=2/_SUCCESS"),
      false): Unit
    // crashed mid-record: the drop must surface as unprocessed again
    assert(FileManifest.newDrops(spark, landing, man) == Seq("c"))
    FileManifest.record(spark, man, Seq("c"), 2L)
    assert(FileManifest.newDrops(spark, landing, man).isEmpty)
    assert(FileManifest.processed(spark, man) == Set("c"))
  }
}
