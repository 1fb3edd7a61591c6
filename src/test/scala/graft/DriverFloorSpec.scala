package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import graft.sources.Tables

/** The per-query driver floor: what a query pays in the driver before
  * its tasks run, once its tables and plan shapes have been seen.
  * Pins the two levers that lower it: the codegen cache size set in
  * `Engine.builder`, and the `Tables` schema cache.
  */
class DriverFloorSpec extends SparkSpec {

  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerDrain(sc) } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("schema cache: every harness table gets the schema Spark infers, at every sf") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- Tables.names) {
      val dir = Paths.get(sfDir).resolveSibling(sf).toString
      val path = s"$dir/$t.parquet"
      val inferred = spark.read.parquet(path)
      assert(Tables.schemaOf(spark, path) == inferred.schema, s"$sf/$t")
      // Both loads read through the entry schemaOf left in the cache.
      for (_ <- 1 to 2)
        assert(Tables.load(spark, dir, t).schema == Tables.normalizeNtz(inferred).schema, s"$sf/$t")
    }
  }

  test("schema cache: harness tables' NTZ timestamps still come out as TIMESTAMP") {
    val inferred = spark.read.parquet(s"$sfDir/orders.parquet").schema("o_orderdate").dataType
    assert(inferred == TimestampNTZType) // the case the normalization exists for
    assert(Tables.orders(spark, sfDir).schema("o_orderdate").dataType == TimestampType)
  }

  /** Older harness generations wrote events.ts as TIMESTAMP(NANOS), which
    * Spark writes no longer, so the file is written here through
    * parquet's own example writer. */
  test("schema cache: events keeps nanos-as-long ts and its µs conversion") {
    val dir = Files.createTempDirectory("graft-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val nanos = Seq(1700000000123456000L, 1700000100654321000L)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(new SimpleGroupFactory(schema).newGroup().append("user_id", i.toLong).append("ts", ns))
    } finally writer.close()
    val path = s"$dir/events.parquet"
    assert(Tables.schemaOf(spark, path) == spark.read.parquet(path).schema)
    val raw = Tables.load(spark, dir, "events")
    assert(raw.schema("ts").dataType == LongType)
    assert(raw.orderBy("user_id").collect().map(_.getLong(1)).toSeq == nanos)
    val events = Tables.events(spark, dir)
    assert(events.schema("ts").dataType == TimestampType)
    val micros = events.orderBy("user_id").selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq
    assert(micros == nanos.map(_ / 1000))
  }

  test("schema cache: a rewritten table is inferred again") {
    val dir = Files.createTempDirectory("graft-schema-cache").toString
    val s = spark
    import s.implicits._
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq == Seq("k", "v"))
    Seq((3L, 1.5, true)).toDF("k", "x", "y").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val reloaded = Tables.load(spark, dir, "t")
    assert(reloaded.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(reloaded.collect().toSeq.map(_.toSeq) == Seq(Seq(3L, 1.5, true)))
  }

  test("schema cache: building q03_join_agg a second time starts no Spark job") {
    val q03 = SparkEntry.queries("q03_join_agg")
    q03(spark, sfDir)
    assert(jobsDuring(q03(spark, sfDir)) == 0) // the first build may infer; this one may not
  }

  /** A mix that compiles well over Spark's default 100 cached classes
    * per pass (about 157), so a cache of that size evicts every class
    * before its query comes round again and every pass compiles. With
    * `Engine.builder`'s cache a warmed pass reuses every class. A
    * warmed pass of these plans now and then still compiles a few new
    * classes (4 in one of four passes, when measured), so the pin is
    * that one of three warmed passes compiles nothing. A 3–4 query mix
    * of floor queries compiles 30–60 classes, which fits in 100, so
    * it could not tell the two cache sizes apart.
    */
  test("codegen cache: a warmed query mix runs without compiling") {
    val mix = Seq("q200_pipeline_v3", "q276_greedy_set_cover")
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      mix.foreach(q => SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    pass()
    val warmed = Iterator.continually(pass()).take(3).toSeq
    assert(warmed.contains(0L), s"compiles per warmed pass: $warmed")
  }
}
