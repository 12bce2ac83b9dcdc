package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.runner.{DiskStats, MonitoredFs, ScanRunner}

class RunnerSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession._

  private val bigDir: Path = Files.createTempDirectory("graft_scan_big")

  /** One Spark-written parquet file in `bigDir`, larger than the 4 MB
    * default `openCostInBytes`, so Spark's split sizing cuts it in two;
    * a copy of the fixture lineitem sits beside it. */
  private lazy val bigFile: String = {
    import org.apache.spark.sql.functions.{col, rand, randn}
    val out = bigDir.resolve("spark_out").toString
    spark.range(0L, 300000L, 1L, 1)
      .select(col("id"), (rand(7) * 100000).as("l_extendedprice"),
        randn(8).as("pad"))
      .coalesce(1).write.parquet(out)
    val part = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    val big = Files.move(part.toPath, bigDir.resolve("big.parquet"))
    FileUtils.deleteDirectory(new java.io.File(out))
    Files.copy(Paths.get(s"$sf/lineitem.parquet"),
      bigDir.resolve("lineitem.parquet"))
    big.toString
  }

  override def afterAll(): Unit =
    try FileUtils.deleteQuietly(bigDir.toFile) finally super.afterAll()

  test("driver contract: oracles ⊆ queries; rows-only set is exactly the documented two") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracle entries without a query: ${o -- q}")
    // every query is oracle-checked except the two inherently
    // engine-specific rows (HLL++ sketch internals, engine-seeded RNG) —
    // adding a query without an oracle must be a conscious decision here
    assert((q -- o) == Set("q_agg_approx", "q_sample_stratified"),
      s"rows-only queries drifted: ${q -- o}")
    assert(q.forall(_.startsWith("q_")), "query naming convention")
  }

  test("per-file fan-out scans all files, fail-soft on schema mismatch") {
    val r = ScanRunner.run(spark, Seq(sf), "l_extendedprice",
      threshold = 30000.0, jobs = 8)
    assert(r.files == 10)              // one per fixture table
    assert(r.failedFiles == 9)         // only lineitem has the column
    assert(r.totalRows > 0)
    assert(r.readOps > 0, "monitored FS must count read calls")
    assert(r.seconds > 0)
    assert(r.predicate == "l_extendedprice > 30000.0")

    // known answer for the byte meter: θ below the column minimum keeps
    // every row, so the scan reads the whole of its one file
    val dir = java.nio.file.Files.createTempDirectory("graft_scan_one")
    val file = java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/lineitem.parquet"),
      dir.resolve("lineitem.parquet"))
    try {
      import org.apache.spark.sql.functions.{col, min}
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val lo = li.agg(min(col("l_extendedprice").cast("double"))).head
        .getDouble(0)
      val (_, b0) = MonitoredFs.snapshot()
      val full = ScanRunner.run(spark, Seq(dir.toString), "l_extendedprice",
        threshold = lo - 1.0, jobs = 2)
      val (_, b1) = MonitoredFs.snapshot()
      assert(full.failedFiles == 0 && full.totalRows == li.count())
      assert(full.readBytes == b1 - b0,
        "readBytes must be the monitored filesystem's byte delta")
      assert(full.readBytes >= java.nio.file.Files.size(file),
        s"a full scan read ${full.readBytes} B of a " +
          s"${java.nio.file.Files.size(file)} B file")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("the fan-out runs one job of one task per file") {
    assert(Files.size(Paths.get(bigFile)) > 4L * 1024 * 1024)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    val conf0 = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes").map(spark.conf.getOption)
    Bridge.waitListenerBus(spark, 10000)
    spark.sparkContext.addSparkListener(counter)
    val r = try {
      val r = ScanRunner.run(spark, Seq(bigDir.toString), "l_extendedprice",
        threshold = 50000.0, jobs = 2)
      Bridge.waitListenerBus(spark, 10000)
      r
    } finally spark.sparkContext.removeSparkListener(counter)
    assert(r.files == 2 && r.failedFiles == 0)
    assert(jobs.get == r.files, "one job per file: no schema-inference job")
    assert(tasks.get == r.files, "one task per file: one split per file")
    assert(Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes").map(spark.conf.getOption) == conf0,
      "the caller's session conf must not change")
  }

  test("the fan-out scans each file with the schema spark.read infers") {
    val files = new java.io.File(sf).listFiles.filter(_.isFile)
      .map(_.getPath).sorted.toSeq :+ bigFile
    assert(files.size == 11)
    files.foreach { f =>
      assert(ScanRunner.readFile(spark, f).schema ==
        spark.read.parquet(f).schema, f)
    }
    // the footer of a Spark-written file keeps non-null columns
    // non-null; the read must still come out nullable, as inference's does
    assert(Bridge.parquetSchema(spark, bigFile).exists(!_.nullable))
    assert(ScanRunner.readFile(spark, bigFile).schema.forall(_.nullable))
  }

  test("a non-parquet file and a hidden one each count as a failed file") {
    val dir = Files.createTempDirectory("graft_scan_junk")
    try {
      Seq("lineitem.parquet", "_hidden.parquet").foreach { name =>
        Files.copy(Paths.get(s"$sf/lineitem.parquet"), dir.resolve(name))
      }
      Files.write(dir.resolve("notes.txt"), "not parquet\n".getBytes("UTF-8"))
      val r = ScanRunner.run(spark, Seq(dir.toString), "l_quantity", 25.0,
        jobs = 2)
      // Spark's file listing drops `_hidden.parquet`: it must fail, not
      // pass as a file with no rows
      assert(r.files == 3 && r.failedFiles == 2)
      assert(r.totalRows == ScanRunner.runMerged(spark,
        Seq(s"$sf/lineitem.parquet"), "l_quantity", 25.0))
    } finally FileUtils.deleteQuietly(dir.toFile)
  }

  test("a fan-out that outlives its timeout throws instead of reporting") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    pool.execute { () =>
      try release.await()
      catch { case _: InterruptedException => () }
    }
    val e = intercept[IllegalStateException] {
      ScanRunner.awaitScans(pool, 100L, Seq("/data/a", "/data/b"))
    }
    assert(e.getMessage.contains("/data/a, /data/b"), e.getMessage)
    assert(pool.isShutdown)
    assert(pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS),
      "the stuck scan must be interrupted")
  }

  test("arrow sink round-trips the filter scan") {
    val buf = new java.io.ByteArrayOutputStream()
    ScanRunner.runArrow(spark, Seq(s"$sf/lineitem.parquet"), "l_quantity",
      25.0, buf)
    val expected = ScanRunner.runMerged(spark,
      Seq(s"$sf/lineitem.parquet"), "l_quantity", 25.0)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(buf.toByteArray), alloc)
    try {
      var rows = 0L
      while (reader.loadNextBatch()) {
        rows += reader.getVectorSchemaRoot.getRowCount
      }
      assert(reader.getVectorSchemaRoot.getSchema.getFields.size == 11,
        "all lineitem columns must survive the stream")
      assert(rows == expected, s"arrow stream carried $rows of $expected rows")
    } finally { reader.close(); alloc.close() }
  }

  test("manifest sink commits atomically: parts, counts, temp cleanup") {
    import org.apache.spark.sql.functions._
    val dir = s"${sys.props("java.io.tmpdir")}/graft_manifest_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val src = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(4)
    src.write.format("graft.sources.GraftManifestSink")
      .option("path", dir).mode("append").save()
    // the manifest is the commit: it lists every part with its rows,
    // the parts exist, the temp dir does not
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_MANIFEST")), "UTF-8")
    val entries = manifest.trim.split("\n").map(_.split("\t"))
    assert(entries.length == 4, s"expected 4 parts: $manifest")
    assert(entries.map(_(1).toLong).sum == src.count(),
      "manifest row counts must sum to the source")
    entries.foreach { e =>
      assert(new java.io.File(dir, e(0)).isFile, s"missing part ${e(0)}")
    }
    assert(!new java.io.File(dir, "_temp").exists, "temp dir must be gone")
    // the parts round-trip: TSV un-escape restores the exact rows
    val back = spark.read.option("sep", "\t").csv(
        entries.map(e => s"$dir/${e(0)}"): _*)
      .select(col("_c0").cast("long").as("doc_id"), col("_c1").as("lang"),
        col("_c2").as("text"))
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty,
      "TSV round-trip must be lossless on the fixture")
    // abort leaves nothing behind: a task-level abort deletes its file
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val w = new graft.sources.ManifestWriterFactory(dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType))),
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)).createWriter(9, 99L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(1L))
    w.abort()
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_temp/part-9-99.tsv")), "aborted part must be deleted")
  }

  test("streaming manifest sink: a manifest per epoch, idempotent replay") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val tmp = sys.props("java.io.tmpdir")
    val srcDir = s"$tmp/graft_mstream_src"
    val dst = s"$tmp/graft_mstream_out"
    Seq(srcDir, dst, dst + "_chk").foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val src = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
    src.repartition(3).write.parquet(srcDir)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream.format("graft.sources.GraftManifestSink")
      .option("path", dst)
      .option("checkpointLocation", dst + "_chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def manifests(): Seq[java.io.File] =
      new java.io.File(dst).listFiles.toSeq
        .filter(_.getName.startsWith("_MANIFEST-")).sortBy(_.getName)
    def committedRows(): Long = manifests()
      .flatMap(m => scala.io.Source.fromFile(m).getLines())
      .map(_.split("\t")(1).toLong).sum
    assert(manifests().size >= 2,
      s"maxFilesPerTrigger=1 over 3 files must yield multiple epochs: ${manifests()}")
    assert(committedRows() == src.count(), "epoch manifests must sum to source")
    // idempotent replay: re-committing an already-manifested epoch must
    // discard the replayed temps, not double-publish
    val epoch = manifests().head.getName.stripPrefix("_MANIFEST-").toLong
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val sw = new graft.sources.ManifestStreamingWrite(dst, schema, conf)
    val w = new graft.sources.ManifestWriterFactory(dst, schema, conf)
      .createWriter(7, 777L, epoch)
    w.write(org.apache.spark.sql.catalyst.InternalRow(
      42L, org.apache.spark.unsafe.types.UTF8String.fromString("xx")))
    val msg = w.commit()
    sw.commit(epoch, Array(msg))
    assert(committedRows() == src.count(), "replayed epoch must not re-publish")
    assert(!new java.io.File(s"$dst/_temp/part-$epoch-7-777.tsv").exists,
      "replayed temp part must be cleaned up")
  }

  test("merged single-job scan agrees with per-file fan-out row count") {
    val fanout = ScanRunner.run(spark, Seq(sf), "l_quantity", 25.0, jobs = 4)
    val merged = ScanRunner.runMerged(spark,
      Seq(s"$sf/lineitem.parquet"), "l_quantity", 25.0)
    assert(fanout.totalRows == merged)
  }

  test("disk stats snapshot parses /sys/block when disks exist") {
    val disks = new java.io.File("/sys/block").list()
    if (disks != null && disks.nonEmpty) {
      val snap = DiskStats.snapshot(disks.toSeq.take(1))
      snap.values.foreach { s =>
        assert(s.readIos >= 0 && s.readSectors >= 0 && s.readTicks >= 0)
      }
    }
    assert(DiskStats.read("no_such_disk_xyz").isEmpty)
  }
}
