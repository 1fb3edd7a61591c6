package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{BinaryMatrix, TxTable}

/** One closed-loop workload: inputs are built during setup, then the
  * client calls [[step]] until the window closes, one op per call. */
trait Workload {
  /** Build the inputs from the seed. Called once per set-up repetition;
    * each call starts from nothing and leaves the same state. */
  def build(): Unit
  def warmup(): Unit
  def step(): Unit
  /** Work done after an op, outside its timing (model upkeep, byte
    * accounting). */
  def afterStep(): Unit = ()
  /** Whether the op mix is complete here: the window only closes at a
    * boundary, so every run measures whole passes of the same mix. */
  def atBoundary: Boolean = true
  /** Called when the window opens: drop what set-up and warm-up counted. */
  def windowStarts(): Unit = ()
  /** Output checks, outside the timed window. Marks wrong ops failed. */
  def check(): Unit
  /** Numbers for the run's artifact. */
  def extra: Map[String, Any] = Map.empty
}

object Workload {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}

/** `query-floor`: a fixed list of sub-second headline queries at sf0.1,
  * in an order the seed shuffles, each into the `noop` sink the way
  * `graft.Bench` runs them. Every query here has a DuckDB oracle in
  * `SparkEntry.oracleSql`, reads only the TPC-H-like tables, writes no
  * files and holds no memoized state across calls. */
final class QueryFloor(spark: SparkSession, rec: Recorder, work: String, seed: Long) extends Workload {
  val data = s"$work/data"
  val queries: Seq[String] = QueryFloor.list
  private val order = new scala.util.Random(seed).shuffle(queries)
  private var next = 0

  /** The tables are written by the launcher (`gen.py`) before this JVM
    * starts; its set-up repetitions are timed there. */
  def build(): Unit = ()

  private def run(q: String): Unit = rec.op(q) {
    val df = rec.span("queries.build") { graft.SparkEntry.queries(q)(spark, data) }
    df.write.format("noop").mode("overwrite").save()
  }

  /** The warm-up pass is the checked pass: each query runs once, outside
    * the window, with its result written to `<work>/results/<query>` for
    * the DuckDB compare the launcher makes once this process has ended. */
  def warmup(): Unit = {
    val out = s"$work/results"
    order.foreach { q =>
      if (!rec.op(q) {
        rec.span("queries.build") { graft.SparkEntry.queries(q)(spark, data) }
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      }) broken += q -> rec.ops.last.error
    }
    val oracles = graft.SparkEntry.oracleSql
    val json = queries.map(q => s"${graft.JsonOut.q(q)}: ${graft.JsonOut.q(oracles(q))}").mkString("{", ",\n", "}")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), json)
  }
  private val broken = mutable.LinkedHashMap.empty[String, String]

  def step(): Unit = { run(order(next % order.size)); next += 1 }
  override def atBoundary: Boolean = next % order.size == 0

  def check(): Unit = rec.ops.foreach(o => broken.get(o.kind).foreach(rec.fail(o.id, _)))
}

object QueryFloor {
  val list: Seq[String] = Seq(
    "q01_pricing_summary", "q03_join_agg", "q04_topk", "q06_count_distinct",
    "q07_left_outer", "q08_semi", "q09_anti", "q13_intersect", "q15_sort_limit",
    "q20_topn_per_group", "q24_datetime", "q28_string", "q31_rollup", "q32_cube",
    "q36_full_outer", "q66_pivot", "q70_correlated_subquery",
    "q116_runtime_filter_join", "q147_order_count_distribution", "q312_priority_classes")
}

/** `matmul`: the reference's own job on its own file format. Two dense
  * n×n int32 `.dat` files are read with `BinaryMatrix.readCoo`,
  * multiplied with `Matrix.matmul` and written to the `noop` sink. */
final class MatMul(spark: SparkSession, rec: Recorder, work: String, seed: Long, n: Int) extends Workload {
  private val aDir = s"$work/a"
  private val bDir = s"$work/b"
  private val a = MatMul.matrix(n, seed, 1)
  private val b = MatMul.matrix(n, seed, 2)

  def build(): Unit = {
    Seq(aDir, bDir).foreach(d => Workload.deleteTree(Paths.get(d)))
    BinaryMatrix.write(aDir, n, n, 1)(id => a(id.toInt))
    BinaryMatrix.write(bDir, n, n, 2)(id => b(id.toInt))
  }

  private def product(): DataFrame = rec.span("ops.matmul") {
    graft.ops.Matrix.matmul(BinaryMatrix.readCoo(spark, aDir),
      BinaryMatrix.readCoo(spark, bDir).select(col("i").as("j"), col("j").as("k"), col("v")))
  }

  def step(): Unit = rec.op("matmul") { product().write.format("noop").mode("overwrite").save() }

  /** The warm-up op is the checked op: the same product, collected, outside
    * the window. Checks n² cells, sum(C) = Σ_j colsumA(j)·rowsumB(j), and
    * cells the seed samples, each recomputed in O(n). */
  def warmup(): Unit = {
    val got = mutable.HashMap.empty[(Int, Int), Long]
    val ran = rec.op("matmul") {
      product().collect().foreach(r => got((r.getInt(0), r.getInt(1))) = r.getLong(2))
    }
    val colA = Array.tabulate(n)(j => (0 until n).map(i => a(i * n + j).toLong).sum)
    val rowB = Array.tabulate(n)(j => (0 until n).map(k => b(j * n + k).toLong).sum)
    val expectSum = (0 until n).map(j => colA(j) * rowB(j)).sum
    val rnd = new scala.util.Random(seed)
    val cells = Seq.fill(256)((rnd.nextInt(n), rnd.nextInt(n)))
    problem =
      if (!ran) rec.ops.last.error
      else if (got.size != n * n) s"matmul: ${got.size} cells, expected ${n * n}"
      else if (got.values.sum != expectSum) s"matmul: sum ${got.values.sum} != $expectSum"
      else cells.find { case (i, k) =>
        got((i, k)) != (0 until n).map(j => a(i * n + j).toLong * b(j * n + k)).sum
      }.map(c => s"matmul: wrong cell $c").getOrElse("")
  }
  private var problem = "not checked"

  def check(): Unit = if (problem.nonEmpty) rec.ops.foreach(o => rec.fail(o.id, problem))
  override def extra: Map[String, Any] = Map("n" -> n, "checked" -> problem.isEmpty)
}

object MatMul {
  /** Dense n×n matrix `tag` of cells in 0–9, row-major (splitmix64 of
    * seed, tag and cell index). */
  def matrix(n: Int, seed: Long, tag: Int): Array[Int] =
    Array.tabulate(n * n) { id =>
      var z = seed * 31 + tag * 1000003L + id + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      java.lang.Math.floorMod(z ^ (z >>> 31), 10L).toInt
    }
}

/** `tx-upsert`: a keyed TxTable built from a seeded 300 k-row frame,
  * then rounds of one `merge` upsert (half updates, half inserts in a
  * narrow key range), one `deleteMor`, range reads at the latest and
  * at a time-travel version, one `changeFeed` read, and `optimize` +
  * `vacuum` every few rounds. An in-memory key → value model checks
  * every read, the change feed and the final snapshot. */
final class TxUpsert(spark: SparkSession, rec: Recorder, work: String, seed: Long,
                     traced: Boolean) extends Workload {
  import TxUpsert._
  private val root = s"$work/table"
  private var rnd = new scala.util.Random(seed * 31 + 7)
  private val salt = java.lang.Math.floorMod(seed, Modulus)
  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("v", LongType, nullable = false),
    StructField("tag", StringType, nullable = false)))

  /** key → v; the row is (k, v, tagOf(v)). */
  private val model = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
  /** version → (key, value before that commit) for every key it changed. */
  private val undo = mutable.HashMap.empty[Int, Seq[(Long, Option[Long])]]
  private var version = 0
  private var rounds = 0
  private val mismatches = mutable.ArrayBuffer.empty[(Int, String)]
  private var pending: Round = _

  // Byte accounting: the files under the table root after the build and
  // after every round; the launcher derives bytes written from them.
  private val listings = mutable.ArrayBuffer.empty[Map[String, Long]]
  private var logicalWritten = 0L
  private var layer = Map.empty[String, Double]

  /** Creates the table from nothing; every repetition leaves the same
    * table and model. */
  def build(): Unit = {
    rnd = new scala.util.Random(seed * 31 + 7)
    rounds = 0; inWindow = false
    mismatches.clear()
    val base = spark.range(BaseRows).select(
      (col("id") * 10).as("k"),
      pmod(col("id") * 7919 + salt, lit(Modulus)).as("v"))
      .select(col("k"), col("v"), concat(lit("t"), pmod(col("v"), lit(997L))).as("tag"))
    TxTable.create(base, root, Buckets, key = "k", changeFeed = true)
    model.clear(); undo.clear()
    var i = 0L
    while (i < BaseRows) { model.put(i * 10, java.lang.Math.floorMod(i * 7919 + salt, Modulus)); i += 1 }
    version = TxTable.latestVersion(spark, root)
    listings.clear(); listings += listing()
    logicalWritten = 0L
  }

  private def listing(): Map[String, Long] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString -> Files.size(p)).toMap
  }

  private def tagOf(v: Long) = s"t${java.lang.Math.floorMod(v, 997L)}"
  private def rowBytes(v: Long): Long = 16L + tagOf(v).length

  /** One round's inputs and expectations, drawn before the op starts. */
  final class Round {
    val lo: Long = rnd.nextLong(BaseRows * 10L - Window)
    val hi: Long = lo + Window
    private val live = model.subMap(lo, hi).keySet().asScala.toArray.map(_.longValue)
    val updates: Seq[Long] = rnd.shuffle(live.toSeq).take(DeltaRows / 2)
    val inserts: Seq[Long] = {
      val got = mutable.LinkedHashSet.empty[Long]
      while (got.size < DeltaRows / 2) {
        val k = lo + rnd.nextLong(Window)
        if (k % 10 != 0 && !model.containsKey(k)) got += k
      }
      got.toSeq
    }
    val delta: Seq[(Long, Long)] = (updates ++ inserts).map(k => k -> rnd.nextLong(Modulus))
    val dlo: Long = rnd.nextLong(BaseRows * 10L - Window)
    val deletes: Seq[Long] = {
      val after = new java.util.TreeMap[java.lang.Long, java.lang.Long](model.subMap(dlo, dlo + Window))
      delta.foreach { case (k, v) => if (k >= dlo && k < dlo + Window) after.put(k, v) }
      rnd.shuffle(after.keySet().asScala.toSeq.map(_.longValue)).take(DeleteKeys)
    }
    val readLo: Long = if (rnd.nextBoolean()) lo else rnd.nextLong(BaseRows * 10L - ReadSpan)
    val ttBack: Int = 1 + rnd.nextInt(TimeTravelBack)
    val maintain: Boolean =
      if (inWindow) windowRounds % MaintainEvery == MaintainEvery - 1 else rounds == 0
    val v0: Int = version
    var latest: Array[Row] = Array.empty
    var past: Array[Row] = Array.empty
    var feed: Array[Row] = Array.empty
    var merged: (Int, Int) = (0, 0)
  }

  private def df(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)

  /** Two rounds, the first with maintenance, checked like window rounds. */
  def warmup(): Unit = (1 to 2).foreach { _ => step(); afterStep() }
  override def windowStarts(): Unit = {
    listings.remove(0, listings.size - 1)
    logicalWritten = 0L; layer = Map.empty; windowRounds = 0; inWindow = true
    setupMismatches = mismatches.size; mismatches.clear()
  }
  private var inWindow = false
  private var windowRounds = 0
  private var setupMismatches = 0

  /** A cycle is MaintainEvery rounds, the last with optimize + vacuum. */
  override def atBoundary: Boolean = windowRounds % MaintainEvery == 0

  def step(): Unit = {
    val r = new Round
    pending = r
    rec.op("round") {
      r.merged = rec.span("tx.merge") {
        TxTable.merge(spark, root, df(r.delta.map { case (k, v) => Row(k, v, tagOf(v)) }))
      }
      rec.span("tx.deleteMor") {
        TxTable.deleteMor(spark, root, spark.createDataFrame(
          r.deletes.map(k => Row(k)).asJava, StructType(Seq(StructField("k", LongType)))))
      }
      val range = col("k") >= r.readLo && col("k") < r.readLo + ReadSpan
      r.latest = rec.span("tx.snapshot") { TxTable.snapshot(spark, root).filter(range).collect() }
      val tt = math.max(1, r.v0 - r.ttBack + 1)
      r.past = rec.span("tx.snapshot") { TxTable.snapshot(spark, root, tt).filter(range).collect() }
      r.feed = rec.span("tx.changeFeed") { TxTable.changeFeed(spark, root, r.v0, r.v0 + 2).collect() }
      if (r.maintain) {
        rec.span("tx.optimize") { TxTable.optimize(spark, root, OptimizeRows) }
        rec.span("tx.vacuum") { TxTable.vacuum(spark, root, Retain) }
      }
    }
  }

  override def afterStep(): Unit = {
    val r = pending
    val id = rec.ops.last.id
    rounds += 1; windowRounds += 1
    // Apply the round to the model: merge is v0+1, deleteMor v0+2.
    val mergeUndo = r.delta.map { case (k, v) => val old = Option(model.put(k, v)).map(_.longValue); k -> old }
    undo(r.v0 + 1) = mergeUndo
    val delUndo = r.deletes.map(k => k -> Option(model.remove(k)).map(_.longValue))
    undo(r.v0 + 2) = delUndo
    version = TxTable.latestVersion(spark, root)
    (r.v0 + 3 to version).foreach(v => undo(v) = Seq.empty)
    val tt = math.max(1, r.v0 - r.ttBack + 1)
    def expect(at: Int): Seq[(Long, Long)] = {
      val m = new java.util.TreeMap[java.lang.Long, java.lang.Long](model.subMap(r.readLo, r.readLo + ReadSpan))
      (version until at by -1).foreach { v =>
        undo.getOrElse(v, Seq.empty).reverse.foreach { case (k, old) =>
          if (k >= r.readLo && k < r.readLo + ReadSpan) old match {
            case Some(x) => m.put(k, x)
            case None => m.remove(k)
          }
        }
      }
      m.asScala.toSeq.map { case (k, v) => (k.longValue, v.longValue) }
    }
    def rows(rs: Array[Row]) = rs.map(x => (x.getAs[Long]("k"), x.getAs[Long]("v"), x.getAs[String]("tag"))).sortBy(_._1).toSeq
    def full(s: Seq[(Long, Long)]) = s.map { case (k, v) => (k, v, tagOf(v)) }
    if (rows(r.latest) != full(expect(version))) mismatches += id -> "range read at latest"
    if (rows(r.past) != full(expect(tt))) mismatches += id -> s"range read at v$tt"
    // Net change feed over (v0, v0+2]: before = state at v0, after = state at v0+2.
    val touched = (r.delta.map(_._1) ++ r.deletes).distinct
    val afterRound = touched.map(k => k -> Option(model.get(k)).map(_.longValue)).toMap
    val beforeRound = {
      val m = mutable.HashMap.empty[Long, Option[Long]] ++= afterRound
      (version until r.v0 by -1).foreach(v => undo.getOrElse(v, Seq.empty).reverse.foreach { case (k, old) =>
        if (m.contains(k)) m(k) = old })
      m
    }
    val expectFeed = touched.flatMap { k =>
      (beforeRound(k), afterRound(k)) match {
        case (None, Some(n)) => Seq(("insert", k, n))
        case (Some(o), None) => Seq(("delete", k, o))
        case (Some(o), Some(n)) if o != n => Seq(("update_pre", k, o), ("update_post", k, n))
        case _ => Seq.empty
      }
    }.map { case (t, k, v) => (t, k, v, tagOf(v)) }.sorted
    val gotFeed = r.feed.map(x => (x.getAs[String]("change_type"), x.getAs[Long]("k"), x.getAs[Long]("v"),
      x.getAs[String]("tag"))).toSeq.sorted
    if (gotFeed != expectFeed) mismatches += id -> s"change feed (${gotFeed.size} rows, expected ${expectFeed.size})"
    listings += listing()
    logicalWritten += r.delta.map { case (_, v) => rowBytes(v) }.sum + 8L * r.deletes.size
    if (traced) {
      val live = TxTable.liveFiles(spark, root)
      val added = TxTable.commits(spark, root, r.v0 + 1).lastOption.map(_.add.map(_.rows).sum).getOrElse(0L)
      def add(k: String, v: Double) = layer = layer.updated(k, layer.getOrElse(k, 0.0) + v)
      add("files_rewritten", r.merged._1); add("files_carried", r.merged._2)
      add("rows_rewritten", added.toDouble); add("rows_changed", r.delta.size)
      add("live_files", live.size); add("dv_files", TxTable.liveDvs(spark, root).size)
      add("checkpoint_commits", (r.v0 + 1 to version).count(_ % TxTable.CheckpointInterval == 0))
    }
  }

  def check(): Unit = {
    mismatches.foreach { case (id, why) => rec.fail(id, why) }
    if (setupMismatches > 0) rec.ops.foreach(o => rec.fail(o.id, "a set-up round differs from the model"))
    var finalOk = false
    rec.op("check") {
      val got = TxTable.snapshot(spark, root).collect()
        .map(x => (x.getAs[Long]("k"), x.getAs[Long]("v"), x.getAs[String]("tag"))).sortBy(_._1).toSeq
      val want = model.asScala.toSeq.map { case (k, v) => (k.longValue, v.longValue, tagOf(v)) }
      finalOk = got == want
    }
    finalStateOk = finalOk && rec.ops.last.ok
    if (!finalStateOk) rec.ops.foreach(o => rec.fail(o.id, "final snapshot differs from the model"))
  }
  private var finalStateOk = false

  override def extra: Map[String, Any] = Map(
    "base_rows" -> BaseRows, "rounds" -> windowRounds, "versions" -> version,
    "listings" -> listings, "logical_bytes_written" -> logicalWritten,
    "live_logical_bytes" -> model.values().asScala.map(v => rowBytes(v.longValue)).sum,
    "final_snapshot_ok" -> finalStateOk, "mismatches" -> (setupMismatches + mismatches.size)) ++
    layer.map { case (k, v) => s"layer.$k" -> v }
}

object TxUpsert {
  val BaseRows = 300000L
  val Buckets = 16
  val Modulus = 1000003L
  /** Width of the key range one round's upserts land in (base keys are
    * multiples of 10, so ~4 k live rows; inserts fill the gaps). */
  val Window = 40000L
  val DeltaRows = 2000
  val DeleteKeys = 300
  val ReadSpan = 2000L
  val TimeTravelBack = 4
  val MaintainEvery = 5
  val OptimizeRows = 40000L
  val Retain = 10
}
