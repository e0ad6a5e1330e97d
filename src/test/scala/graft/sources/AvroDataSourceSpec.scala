package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ingest.AvroSink

/** DSv2 route into Avro containers: spark.read.format("avrofile"). The
  * schema/evolution/logical-type behavior is covered by AvroSourceSpec
  * (AvroSource.read delegates here); this spec pins the scan properties —
  * sync-marker splitting, packing, the listing and column pruning. */
class AvroDataSourceSpec extends AnyFunSuite with SparkTestSession {

  test("large files split by sync-marker byte ranges, small ones don't") {
    val spark2 = spark
    import spark2.implicits._
    val dir = Files.createTempDirectory("avrosplit").toFile.getPath + "/out"
    // ~100 KB of records in ONE container file
    AvroSink.write(
      (1 to 20000).map(i => (i.toLong, s"payload_$i")).toDF("id", "s").repartition(1),
      dir)

    val whole = spark.read.format("avrofile").load(dir)
    assert(whole.rdd.getNumPartitions == 1) // default 128 MB split: one slice

    val old = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      val sliced = spark.read.format("avrofile").load(dir)
      assert(sliced.rdd.getNumPartitions > 2,
        s"expected >2 slices, got ${sliced.rdd.getNumPartitions}")
      // every record read exactly once across slices
      assert(sliced.count() == 20000)
      assert(sliced.agg(sum("id")).as[Long].head() == 20000L * 20001 / 2)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
  }

  test("streaming tail: new container files consumed per restart") {
    val spark2 = spark
    import spark2.implicits._
    val root = Files.createTempDirectory("avrotail").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val ckpt = new java.io.File(root, "ckpt").getPath
    val out = new java.io.File(root, "out").getPath

    def writeOne(sub: String, ids: Seq[Long]): Unit = {
      val tmp = new java.io.File(root, sub).getPath
      AvroSink.write(ids.map(i => (i, s"v$i")).toDF("id", "s").repartition(1), tmp)
      // move the container in atomically, like a CDC delivery drop
      val avro = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".avro")).head
      Files.move(avro.toPath, new java.io.File(in, s"$sub.avro").toPath)
    }
    writeOne("f1", Seq(1L, 2L))

    def runOnce(): Unit = {
      val q = spark.readStream.format("avrofile").load(in.getPath)
        .writeStream.format("json")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce()
    assert(spark.read.json(out).count() == 2)

    writeOne("f2", Seq(3L, 4L, 5L))
    runOnce() // only the new file is consumed on restart
    assert(spark.read.json(out).select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("streaming tail with explicit schema starts on an EMPTY directory") {
    val spark2 = spark
    import spark2.implicits._
    val root = Files.createTempDirectory("avroempty").toFile
    val in = new java.io.File(root, "in"); in.mkdirs() // no files yet
    val ckpt = new java.io.File(root, "ckpt").getPath
    val out = new java.io.File(root, "out").getPath

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = {
      val q = spark.readStream.format("avrofile").schema(schema).load(in.getPath)
        .writeStream.format("json")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce() // empty directory: zero batches of data, no failure
    // first delivery arrives; the restart picks it up
    val tmp = new java.io.File(root, "tmp").getPath
    AvroSink.write(Seq((7L, "x")).toDF("id", "s").repartition(1), tmp)
    val avro = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".avro")).head
    Files.move(avro.toPath, new java.io.File(in, "f1.avro").toPath)
    runOnce()
    assert(spark.read.json(out).select("id").as[Long].collect().toSeq == Seq(7L))
  }

  test("column pruning reaches the scan") {
    val spark2 = spark
    import spark2.implicits._
    val dir = Files.createTempDirectory("avroprune").toFile.getPath + "/out"
    AvroSink.write(Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("id", "s", "x"), dir)
    val pruned = spark.read.format("avrofile").load(dir).select("id")
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("ReadSchema=[id]"),
      s"scan not pruned to [id]:\n$planStr")
    assert(pruned.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("fileNameColumn predicates prune whole files at planning") {
    val spark2 = spark
    import spark2.implicits._
    val root = Files.createTempDirectory("avrofprune").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    // three date-bucketed delivery files, CDC-drop style
    Seq(("2024-05-01.avro", Seq(1L, 2L)),
        ("2024-05-02.avro", Seq(3L, 4L)),
        ("2024-05-03.avro", Seq(5L, 6L))).foreach { case (name, ids) =>
      val tmp = new java.io.File(root, "tmp_" + name).getPath
      AvroSink.write(ids.map(i => (i, s"v$i")).toDF("id", "s").repartition(1), tmp)
      val avro = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".avro")).head
      Files.move(avro.toPath, new java.io.File(in, name).toPath)
    }

    def read() = spark.read.format("avrofile")
      .option("fileNameColumn", "src_file").load(in.getPath)

    // the virtual column carries the basename
    val all = read()
    assert(all.rdd.getNumPartitions == 3)
    assert(all.select("src_file").distinct().as[String].collect().sorted.toSeq
      == Seq("2024-05-01.avro", "2024-05-02.avro", "2024-05-03.avro"))

    // equality predicate: one file planned, values correct
    val eq = read().filter(col("src_file") === "2024-05-02.avro")
    assert(eq.rdd.getNumPartitions == 1, "EqualTo did not prune files")
    assert(eq.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))

    // range predicate: tail read prunes the head file
    val ge = read().filter(col("src_file") >= "2024-05-02")
    assert(ge.rdd.getNumPartitions == 2, "range predicate did not prune")
    assert(ge.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L, 5L, 6L))

    // prefix predicate + projection without the virtual column
    val pre = read().filter(col("src_file").startsWith("2024-05-03")).select("id")
    assert(pre.as[Long].collect().sorted.toSeq == Seq(5L, 6L))

    // pruning is an optimization, not the filter: a mixed predicate the
    // planner can't push still evaluates correctly over all files
    val mixed = read().filter(col("src_file") =!= "2024-05-01.avro")
    assert(mixed.rdd.getNumPartitions == 3) // Not(EqualTo) isn't prunable
    assert(mixed.select("id").as[Long].collect().sorted.toSeq
      == Seq(3L, 4L, 5L, 6L))
  }

  test("hidden containers are neither read nor counted") {
    val spark2 = spark
    import spark2.implicits._
    val root = Files.createTempDirectory("avrohidden").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    container(in, "a.avro", Seq(1L, 2L))
    container(in, "_b.avro", Seq(3L))
    container(in, ".c.avro", Seq(4L))
    val ids = spark.read.format("avrofile").load(in.getPath)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L))
    val bins = new java.io.File(root, "bins"); bins.mkdirs()
    Files.write(new java.io.File(bins, "mysql-bin.000001").toPath, "x".getBytes)
    val metrics = graft.cli.Main.jobMetrics(spark, graft.cli.Main.Args(
      binlogBinary = Some(bins.getPath), avro = Some(in.getPath)))
    assert(metrics("avro_files") == 1L)
  }

  test("a batch read packs small containers into one split per core, with " +
      "the rows and file names of a one-file-per-partition read") {
    val root = Files.createTempDirectory("avropack").toFile
    val names = (1 to 16).map(i => f"d$i%02d.avro")
    names.zipWithIndex.foreach { case (n, i) =>
      container(root, n, Seq(10L * (i + 1), 10L * (i + 1) + 1)) }
    assert(spark.sparkContext.defaultParallelism == 4)
    def read() = spark.read.format("avrofile")
      .option("fileNameColumn", "src_file").load(root.getPath)
    val packed = read()
    assert(packed.rdd.getNumPartitions == 4)
    // next-fit in listing order: each split holds 4 consecutive files
    val perSplit = packed.groupBy(spark_partition_id().as("p"))
      .agg(collect_set("src_file").as("files")).collect()
      .map(_.getSeq[String](1).sorted).sortBy(_.head).toSeq
    assert(perSplit == names.grouped(4).toSeq)
    // an open cost above the split size leaves every file alone (a
    // one-byte split size would cut these splittable containers into
    // one-byte ranges instead)
    val old = spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    val perFile = try {
      spark.conf.set("spark.sql.files.openCostInBytes", (1L << 30).toString)
      val df = read()
      assert(df.rdd.getNumPartitions == 16)
      df.collect().toSeq
    } finally spark.conf.set("spark.sql.files.openCostInBytes", old)
    val rows = packed.collect().toSeq
    assert(rows == perFile)
    assert(rows.size == 32)
    // the virtual column is set per file, not once per split
    rows.foreach { r =>
      assert(r.getAs[String]("src_file") == names((r.getAs[Long]("id") / 10 - 1).toInt), r)
    }
  }

  /** One container of `(id, "v<id>")` rows, moved into `dir` as `name`. */
  private def container(dir: java.io.File, name: String, ids: Seq[Long]): Unit = {
    val spark2 = spark
    import spark2.implicits._
    val tmp = Files.createTempDirectory("avrotmp").toFile.getPath + "/out"
    AvroSink.write(ids.map(i => (i, s"v$i")).toDF("id", "s").repartition(1), tmp)
    val avro = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".avro")).head
    Files.move(avro.toPath, new java.io.File(dir, name).toPath)
  }
}
