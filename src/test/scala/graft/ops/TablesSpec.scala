package graft.ops

import graft.SparkSpec
import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftbridge.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetBridge
import org.apache.spark.sql.types.LongType

class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** The vendored copy of the generated tables, one parquet file each. */
  private val tablesDir = "perfbench/data/sf0.01"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def tmp(prefix: String): String = s"${Files.createTempDirectory(prefix)}/t"

  private def withNanosAsLong(on: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", on.toString)
    s
  }

  /** StructType equality covers field names, types, nullability and
    * metadata. */
  private def assertParity(s: SparkSession, path: String): Unit = {
    val viaFooter = ParquetBridge.schema(s, path)
    val inferred = s.read.parquet(path).schema
    assert(viaFooter === inferred, s"$path\n${viaFooter.json}\n${inferred.json}")
  }

  /** Spark jobs started while `body` runs, counted by a listener. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bus.drain(sc)
    sc.addSparkListener(listener)
    try { body; Bus.drain(sc) } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** A one-file events table whose ts is INT64 TIMESTAMP(NANOS), the
    * type `nanosAsLong` decides (Spark itself cannot write it). */
  private def nanosEvents(): String = {
    val dir = Files.createTempDirectory("tables_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> 1000L, 2L -> 2000L).foreach { case (id, ts) =>
      writer.write(rows.newGroup().append("event_id", id).append("ts", ts))
    } finally writer.close()
    dir
  }

  test("events() memoizes one configured child session per flag-less parent") {
    val dir = Files.createTempDirectory("tables_events").toString
    Seq((1L, 10L), (2L, 20L)).toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")

    val parent = spark.newSession()
    parent.conf.unset("spark.sql.legacy.parquet.nanosAsLong") // force the child branch
    val d1 = Tables.events(parent, dir)
    val d2 = Tables.events(parent, dir)
    // one child, reused across calls, flag set, parent untouched
    assert(d1.sparkSession eq d2.sparkSession)
    assert(d1.sparkSession ne parent)
    assert(d1.sparkSession.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    // parent untouched: still at the Spark default ("false"), not "true"
    assert(!parent.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
    assert(d1.count() === 2)

    // a parent that already has the flag reads in ITS OWN session
    val configured = spark.newSession()
    configured.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(Tables.events(configured, dir).sparkSession eq configured)
  }

  test("footer schema equals the inferred schema on every generated table") {
    assert(new File(tablesDir).isDirectory, s"vendored tables missing at $tablesDir")
    tables.foreach(t => assertParity(spark, s"$tablesDir/$t.parquet"))
  }

  test("footer schema follows nanosAsLong of the session passed in") {
    Seq(true, false).foreach(on =>
      assertParity(withNanosAsLong(on), s"$tablesDir/events.parquet"))

    val dir = nanosEvents()
    val path = s"$dir/events.parquet"
    assertParity(withNanosAsLong(on = true), path)
    assert(ParquetBridge.schema(withNanosAsLong(on = true), path)("ts").dataType === LongType)
    // off: both reads refuse the type rather than guess
    val off = withNanosAsLong(on = false)
    Seq(intercept[Exception](ParquetBridge.schema(off, path)),
      intercept[Exception](off.read.parquet(path).schema)).foreach(e =>
      assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage))
    // Tables.events reads through its configured child, so a flag-less
    // caller still gets the Long nanos axis
    val ev = Tables.events(off, dir)
    assert(ev.schema("ts").dataType === LongType)
    assert(ev.orderBy("event_id").select("ts").as[Long].collect().toSeq === Seq(1000L, 2000L))
  }

  test("footer schema of a Spark-written directory: the first data file by path") {
    // two writes, three part files each, different schemas: whatever
    // the job uuids, part-00000 of one write sorts first and
    // part-00002 of the other last, so only the right pick agrees
    val dir = tmp("tables_parts")
    spark.range(0, 30, 1, 3).selectExpr("id", "cast(id as string) as s")
      .write.parquet(dir)
    spark.range(30, 60, 1, 3).selectExpr("id", "cast(id as string) as s", "id * 0.5 as x")
      .write.mode("append").parquet(dir)
    val names = new File(dir).list().toSeq
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) === 6)
    assert(names.contains("_SUCCESS"))
    assert(names.exists(_.startsWith("."))) // checksum files: hidden, never picked
    assertParity(spark, dir)
    assert(Tables.parquet(spark, dir).count() === 60)
  }

  test("footer schema of a directory with summary files: _common_metadata first") {
    // data files and _metadata carry schema A, _common_metadata schema
    // B: inference trusts _common_metadata, so parity pins the order
    def withSummaries(df: org.apache.spark.sql.DataFrame): String = {
      val dir = tmp("tables_summary")
      df.write.mode("overwrite").option("parquet.summary.metadata.level", "ALL").parquet(dir)
      Seq("_metadata", "_common_metadata").foreach(n =>
        assert(new File(dir, n).isFile, s"$n not written in $dir"))
      dir
    }
    val a = withSummaries(spark.range(0, 20, 1, 2).selectExpr("id"))
    val b = withSummaries(spark.range(0, 20, 1, 2).selectExpr("id", "id * 2 as y"))
    Seq("_common_metadata", "._common_metadata.crc").foreach(n =>
      Files.copy(new File(b, n).toPath, new File(a, n).toPath, StandardCopyOption.REPLACE_EXISTING))
    assertParity(spark, a)
    assert(ParquetBridge.schema(spark, a).fieldNames.toSeq === Seq("id", "y"))
  }

  test("building the loaders starts no Spark job") {
    val nanos = nanosEvents()
    val flagless = withNanosAsLong(on = false)
    val jobs = jobsDuring {
      Tables.documents(spark, tablesDir)
      Tables.events(spark, tablesDir)
      Tables.events(flagless, nanos) // the configured-child branch
    }
    assert(jobs === 0)
    // the listener does see the job that plain inference starts
    assert(jobsDuring(spark.read.parquet(s"$tablesDir/documents.parquet")) >= 1)
  }

  test("a partitioned directory is rejected, not read") {
    val dir = tmp("tables_partitioned")
    Seq((1L, "a"), (2L, "b")).toDF("id", "k").write.partitionBy("k").parquet(dir)
    val e = intercept[IllegalArgumentException](ParquetBridge.schema(spark, dir))
    assert(e.getMessage.contains("subdirectories"), e.getMessage)
    intercept[IllegalArgumentException](Tables.parquet(spark, dir))
  }

  test("src/main opens parquet through Tables.parquet except at partitioned sites") {
    // spark.read.parquet infers the schema with a Spark job; only the
    // partitioned layouts (partition discovery) may still use it
    val allowed = Map("PersistOps.scala" -> 1, "DocCorpusSource.scala" -> 1)
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"sources not found under ${root.getAbsolutePath}")
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val call = """read\s*\.\s*parquet\(""".r
    val found = files(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val n = call.findAllIn(new String(Files.readAllBytes(f.toPath), "UTF-8")).size
      if (n > 0) Some(f.getName -> n) else None
    }.toMap
    assert(found === allowed)
  }
}
