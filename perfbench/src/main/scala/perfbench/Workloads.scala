package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.sources.FileCow

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val source: String, val work: Path,
    val seed: Long, val corrupt: Boolean) {
  val rec = new Recorder
  var tracer: Option[Tracer] = None

  def span[A](kind: String, name: String)(body: => A): A =
    tracer.fold(body)(_.span(kind, name)(body))

  /** Drops the blocks a finished pass cached or checkpointed, so every pass
    * starts from the same storage state. */
  def releaseBlocks(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}

/** One timed operation: a query, or a statement against the cow table. */
final case class Op(kind: String, name: String, ms: Double, planMs: Double, ok: Boolean)

/** Everything a timed window measured. */
final class Recorder {
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Each pass's seconds with the host's stolen share taken out, and as wall time. */
  val passes = mutable.ArrayBuffer.empty[Double]
  val wallPasses = mutable.ArrayBuffer.empty[Double]
  var busyS, stealS = 0.0
  val heapMb = mutable.ArrayBuffer.empty[Double]
  val groups = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val buildMs = mutable.ArrayBuffer.empty[Double]

  def group(name: String, seconds: Double): Unit =
    groups.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += seconds

  def clear(): Unit = {
    ops.clear(); passes.clear(); wallPasses.clear(); heapMb.clear(); groups.clear(); buildMs.clear()
    busyS = 0.0; stealS = 0.0
  }
}

trait Workload {
  def name: String
  /** Generates the inputs and creates the tables, into a fresh directory. */
  def prepare(ctx: Ctx, k: Int): Unit
  /** The warm-up: everything that must run once before steady state. */
  def warmUp(ctx: Ctx): Unit
  /** Untimed passes after the warm-up, before the timed window. */
  def warmPasses: Int
  /** Untimed: turns the warm-up's outputs into expected values. */
  def expectations(ctx: Ctx): Unit
  /** One pass (or cycle), recording its operations. */
  def pass(ctx: Ctx, i: Int): Unit
  /** Per-layer figures that only this workload produces. */
  def layerMetrics(ctx: Ctx): Map[String, Double] = Map.empty
  /** The generated inputs and the output dumps the external oracle checks. */
  def oracle: Option[(String, Path)] = None
}

/** Order-independent checksum over every output column: the row count and
  * the sum of each row's xxhash64 reduced mod 2^31 - 1 (a plain sum of
  * 64-bit hashes overflows under ANSI mode). */
object Checksum {
  def of(df: DataFrame): DataFrame = {
    val cols = df.columns.sorted.toSeq.map { c =>
      df.schema(c).dataType match {
        case _: MapType => array_sort(map_entries(col(c)))
        case _ => col(c)
      }
    }
    df.select(count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(cols: _*), lit(Int.MaxValue.toLong))), lit(0L)).as("h"))
  }

  def collect(df: DataFrame): (Long, Long, Double) = {
    val agg = of(df)
    val r = agg.collect().head
    (r.getLong(0), r.getLong(1), Tracer.planMs(agg.queryExecution).toDouble)
  }
}

/** A pass of engine queries grouped in named stages; each stage name is the
  * layer metric it feeds. Every query's output is checksummed and compared
  * with the checksum of its warm-up output, which the oracle verifies. An
  * `archive` cycle, when given, runs inside the stage named `archiveStage`. */
final class QueryWorkload(val name: String, stages: Seq[(String, Seq[String])],
    val warmPasses: Int, makeInputs: (Ctx, String, Set[String]) => Unit,
    archive: Option[OrdersArchive] = None, archiveStage: String = "") extends Workload {
  private var inputs: String = _
  private var verify: Path = _
  private val expected = mutable.Map.empty[String, (Long, Long)]
  private def queries: Seq[String] = stages.flatMap(_._2)

  /** The tables the queries read: those their oracle SQL names. */
  private lazy val tables: Set[String] = Inputs.AllTables.filter { t =>
    val word = s"\\b$t\\b".r
    queries.exists(q => SparkEntry.oracleSql.get(q).exists(word.findFirstIn(_).isDefined))
  }.toSet

  def prepare(ctx: Ctx, k: Int): Unit = {
    val dir = ctx.work.resolve(s"inputs-$k").toString
    val t0 = System.nanoTime()
    makeInputs(ctx, dir, tables)
    inputs = dir
    verify = ctx.work.resolve("verify")
    val t1 = System.nanoTime()
    archive.foreach(_.prepare(ctx, k))
    Log.err(f"preparation $k: inputs ${(t1 - t0) / 1e9}%.2f s, archive ${(System.nanoTime() - t1) / 1e9}%.2f s")
  }

  /** Writes each query's output once: the warm-up execution and the dump
    * the oracle compares. */
  def warmUp(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    queries.foreach { q =>
      try SparkEntry.queries(q)(ctx.spark, inputs).write.mode("overwrite")
        .parquet(verify.resolve(q).toString)
      catch { case e: Exception => Log.err(s"warm-up $q failed: ${e.getMessage}") }
      finally ctx.releaseBlocks()
    }
    val t1 = System.nanoTime()
    archive.foreach(_.warmUp(ctx))
    Log.err(f"warm-up: queries ${(t1 - t0) / 1e9}%.2f s, archive ${(System.nanoTime() - t1) / 1e9}%.2f s")
  }

  def expectations(ctx: Ctx): Unit = {
    queries.foreach { q =>
      val dump = verify.resolve(q)
      if (Files.isDirectory(dump)) {
        val (n, h, _) = Checksum.collect(ctx.spark.read.parquet(dump.toString))
        expected(q) = (n, if (ctx.corrupt) h + 1 else h)
      }
    }
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }
    Files.writeString(verify.resolve("oracle_sql.json"), Json.obj(oracle.map {
      case (q, sql) => q -> Json.str(sql)
    }))
    ()
  }

  override def oracle: Option[(String, Path)] = Some((inputs, verify))

  def pass(ctx: Ctx, i: Int): Unit = stages.foreach { case (stage, qs) =>
    val t0 = System.nanoTime()
    ctx.span("stage", stage) {
      qs.foreach(q => runQuery(ctx, q))
      if (stage == archiveStage) archive.foreach(_.pass(ctx, i))
    }
    ctx.rec.group(stage, (System.nanoTime() - t0) / 1e9)
  }

  private def runQuery(ctx: Ctx, q: String): Unit = {
    val t0 = System.nanoTime()
    val (ok, planMs) = ctx.span("query", q) {
      try {
        val b0 = System.nanoTime()
        val df = ctx.span("tables", q) { SparkEntry.queries(q)(ctx.spark, inputs) }
        ctx.rec.buildMs += (System.nanoTime() - b0) / 1e6
        val e0 = System.nanoTime()
        val (n, h, plan) = ctx.span("execute", q) {
          val r = Checksum.collect(df)
          ctx.tracer.foreach(_.record("plan", q, e0, e0 + (r._3 * 1e6).toLong))
          r
        }
        val ok = expected.get(q).contains((n, h))
        if (!ok) Log.err(s"$q: checksum ($n, $h) != expected ${expected.get(q)}")
        (ok, plan)
      } catch {
        case e: Exception => Log.err(s"$q failed: ${e.getMessage}"); (false, 0.0)
      }
    }
    ctx.rec.ops += Op("query", q, (System.nanoTime() - t0) / 1e6, planMs, ok)
  }

  /** Layer metrics this workload feeds: each stage's and each query's
    * median seconds. */
  override def layerMetrics(ctx: Ctx): Map[String, Double] = {
    val stageMetrics = ctx.rec.groups.map { case (g, xs) => s"${g}_s" -> Stats.median(xs.toSeq) }
    val queryMetrics = ctx.rec.ops.filter(_.kind == "query").groupBy(_.name).map { case (q, os) =>
      s"query.${q}_s" -> Stats.median(os.map(_.ms / 1000.0).toSeq)
    }
    (stageMetrics ++ queryMetrics).toMap ++
      archive.fold(Map.empty[String, Double])(_.layerMetrics(ctx))
  }
}

/** The orders archive of the nightly chain's merge stage (dw3): a
  * graft-cow table of seeded orders keyed on `o_orderkey`. One cycle is one
  * MERGE INTO of a seeded increment (updates spread over the key space plus
  * new keys), point lookups at the latest version, and one range aggregate
  * at a version drawn uniformly from every version written so far. An
  * in-memory mirror of the replayed increments checks every read. */
final class OrdersArchive(sampleOf: Int, files: Int, historyVersions: Int,
    updatesPerMerge: Int, insertsPerMerge: Int, lookupsPerCycle: Int) extends Workload {
  val name = "orders_archive"
  // it runs inside the nightly pass, whose warm passes it shares
  val warmPasses = 0

  private var root: String = _
  private var schema: StructType = _
  private val mirror = mutable.LongMap.empty[(Row, Long)]
  private val keys = mutable.ArrayBuffer.empty[Long] // ascending: inserts take fresh, larger keys
  private var custKeys: Array[Long] = _
  private var dates: Array[AnyRef] = _
  private var nextKey = 0L
  private var version = 0L
  private var tableFiles = 0L
  private var minKey, maxKey = 0L
  private val rangeOf = mutable.LongMap.empty[(Long, Long)]
  private val expectedAt = mutable.LongMap.empty[(Long, Long, Long)]
  private var rng: scala.util.Random = _
  private var corrupt = false
  private val statuses = Array("F", "O", "P")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val mergeStats = mutable.ArrayBuffer.empty[(Long, Long, Long)] // files, bytes, inc rows
  private val lookupFiles = mutable.ArrayBuffer.empty[(Long, Long)] // scanned, table files
  private val table = "perfbench_inc"

  private def tableRef = s"graft_cow.`$root`"
  private val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")

  def prepare(ctx: Ctx, k: Int): Unit = {
    val spark = ctx.spark
    root = ctx.work.resolve(s"table-$k").toString
    rng = new scala.util.Random(ctx.seed)
    corrupt = ctx.corrupt
    val src = Inputs.orders(spark, ctx.source, ctx.seed, sampleOf)
    schema = src.schema
    val hashed = src.withColumn("h", pmod(xxhash64(cols.map(col): _*), lit(Int.MaxValue.toLong)))
      .collect()
    mirror.clear(); keys.clear(); rangeOf.clear(); expectedAt.clear()
    hashed.foreach { r =>
      val key = r.getLong(0)
      mirror(key) = (Row.fromSeq(r.toSeq.take(cols.length)), r.getLong(cols.length))
    }
    keys ++= mirror.keys.toSeq.sorted
    custKeys = hashed.map(_.getLong(1)).distinct
    dates = hashed.map(_.get(4).asInstanceOf[AnyRef]).distinct
    minKey = keys.head; maxKey = keys.last; nextKey = maxKey + 1
    val created = FileCow.create(spark, root,
      src.repartitionByRange(files, col("o_orderkey")), Seq("o_orderkey"))
    version = created.version
    tableFiles = created.filesAdded
    recordExpected(version)
  }

  /** Writes the history the cycles read. It is padded with metadata-only commits (ALTER TABLE SET
    * TBLPROPERTIES: a new version and manifest, no data files) until more
    * versions exist than the manifest cache holds; a data-writing MERGE
    * per version would cost over a second each. */
  def warmUp(ctx: Ctx): Unit = {
    while (version < historyVersions) {
      ctx.spark.sql(s"ALTER TABLE $tableRef SET TBLPROPERTIES ('perfbench.pad' = '$version')")
      val v = FileCow.currentVersion(root)
      require(v == version + 1, s"SET TBLPROPERTIES landed version $v after $version")
      version = v
      recordExpected(version)
    }
  }

  def expectations(ctx: Ctx): Unit = ()

  def pass(ctx: Ctx, i: Int): Unit = {
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < updatesPerMerge) picked += keys(rng.nextInt(keys.length))
    val inc = picked.toSeq.map(updated) ++ (0 until insertsPerMerge).map(_ => inserted())
    if (timed(ctx, "merge") { mergeStatement(ctx, inc) }) replay(inc)
    (0 until lookupsPerCycle).foreach { _ =>
      val k = keys(rng.nextInt(keys.length))
      timed(ctx, "lookup") { lookup(ctx, k) }
    }
    val v = 1L + rng.nextInt(version.toInt)
    timed(ctx, "history") { history(ctx, v) }
  }

  /** Times one statement; `body` returns its planning-tracker ms. */
  private def timed(ctx: Ctx, kind: String)(body: => Double): Boolean = {
    val t0 = System.nanoTime()
    val (ok, planMs) = ctx.span("statement", kind) {
      try (true, body)
      catch {
        case e: Exception => Log.err(s"$kind failed: ${e.getMessage}"); (false, 0.0)
      }
    }
    ctx.rec.ops += Op(kind, kind, (System.nanoTime() - t0) / 1e6, planMs, ok)
    ok
  }

  private def randomRow(key: Long, date: AnyRef): Row = Row(key,
    custKeys(rng.nextInt(custKeys.length)), statuses(rng.nextInt(statuses.length)),
    rng.nextInt(50000000) / 100.0, date, priorities(rng.nextInt(priorities.length)))

  private def updated(key: Long): Row = randomRow(key, mirror(key)._1.get(4).asInstanceOf[AnyRef])

  private def inserted(): Row = {
    val key = nextKey
    nextKey += 1
    randomRow(key, dates(rng.nextInt(dates.length)))
  }

  private def rowHash(r: Row): Long = {
    val lits = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      Literal.create(r.get(i), f.dataType)
    }
    val h = new XxHash64(lits).eval(null).asInstanceOf[Long]
    java.lang.Math.floorMod(h, Int.MaxValue.toLong)
  }

  /** MERGE INTO the cow table. A rejected MERGE throws and is counted
    * failed by the caller; it is never retried. */
  private def mergeStatement(ctx: Ctx, inc: Seq[Row]): Double = {
    val spark = ctx.spark
    spark.createDataFrame(inc.asJava, schema).createOrReplaceTempView(table)
    val df = spark.sql(s"MERGE INTO $tableRef t USING $table s ON t.o_orderkey = s.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val v = FileCow.currentVersion(root)
    require(v == version + 1, s"MERGE landed version $v after $version")
    version = v
    Tracer.planMs(df.queryExecution).toDouble
  }

  /** Untimed: replays a landed increment into the mirror and records the new
    * version's expected range aggregate and write figures. */
  private def replay(inc: Seq[Row]): Unit = {
    inc.foreach { r =>
      val key = r.getLong(0)
      if (!mirror.contains(key)) keys += key
      mirror(key) = (r, rowHash(r))
    }
    recordExpected(version)
    FileCow.commitInfo(root, version).foreach { ci =>
      mergeStats += ((ci.added.length.toLong, ci.bytesAdded, inc.length.toLong))
      tableFiles = ci.nFiles
    }
  }

  /** The range a version's history read aggregates, fixed per version. */
  private def recordExpected(v: Long): Unit = {
    val r = new scala.util.Random(v * 7919L + minKey)
    val span = math.max(1L, (maxKey - minKey) / 8)
    val lo = minKey + (r.nextDouble() * (maxKey - minKey - span)).toLong
    val hi = lo + span
    var n, s, h = 0L
    mirror.foreach { case (k, (row, rh)) =>
      if (k >= lo && k < hi) { n += 1; s += row.getLong(1); h += rh }
    }
    rangeOf(v) = (lo, hi)
    expectedAt(v) = (n, s, if (corrupt) h + 1 else h)
  }

  private def lookup(ctx: Ctx, k: Long): Double = {
    val df = ctx.spark.sql(s"SELECT * FROM $tableRef WHERE o_orderkey = $k")
    val got = df.collect()
    require(got.length == 1 && got(0) == mirror(k)._1,
      s"lookup $k returned ${got.mkString(",")}, mirror has ${mirror(k)._1}")
    val scanned = OrdersArchive.filesScanned(df)
    lookupFiles += ((scanned, tableFiles))
    Tracer.planMs(df.queryExecution).toDouble
  }

  private def history(ctx: Ctx, v: Long): Double = {
    val (lo, hi) = rangeOf(v)
    val df = ctx.spark.sql(
      s"""SELECT count(*) AS n, coalesce(sum(o_custkey), 0) AS s,
         |  coalesce(sum(pmod(xxhash64(${cols.mkString(", ")}), ${Int.MaxValue}L)), 0) AS h
         |FROM $tableRef VERSION AS OF $v
         |WHERE o_orderkey >= $lo AND o_orderkey < $hi""".stripMargin)
    val r = df.collect().head
    val got = (r.getLong(0), r.getLong(1), r.getLong(2))
    require(expectedAt.get(v).contains(got),
      s"history read at version $v returned $got, expected ${expectedAt.get(v)}")
    Tracer.planMs(df.queryExecution).toDouble
  }

  override def layerMetrics(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val ops = ctx.rec.ops
    def ms(kind: String) = ops.filter(o => o.kind == kind && o.ok).map(_.ms).toSeq
    def p50(kind: String) = if (ms(kind).isEmpty) 0.0 else Stats.median(ms(kind))
    def tail(kind: String) = if (ms(kind).isEmpty) 0.0 else Stats.tail(ms(kind))._1
    def plan(kinds: Set[String]) = {
      val xs = ops.filter(o => kinds(o.kind) && o.ok).map(_.planMs).toSeq
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val merges = ops.filter(o => o.kind == "merge" && o.ok).toSeq
    val history = spark.sql(s"DESCRIBE HISTORY $tableRef").collect()
    val last = history.maxBy(_.getAs[Long]("version"))
    val liveBytes = last.getAs[Long]("bytes").toDouble
    val stored = Files.walk(Path.of(root)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum.toDouble
    val liveRows = last.getAs[Long]("n_rows").toDouble
    val windowMerges = mergeStats.takeRight(merges.length)
    val avg = (xs: Seq[Double]) => if (xs.isEmpty) 0.0 else xs.sum / xs.length
    val windowLookups = lookupFiles.takeRight(ms("lookup").length)
    Map(
      "upsert.merge_ms_p50" -> p50("merge"), "upsert.merge_ms_tail" -> tail("merge"),
      "upsert.lookup_ms_p50" -> p50("lookup"), "upsert.lookup_ms_tail" -> tail("lookup"),
      "upsert.history_ms_p50" -> p50("history"), "upsert.history_ms_tail" -> tail("history"),
      "upsert.ops_per_s" -> {
        val cycleOps = ops.filter(o => Set("merge", "lookup", "history")(o.kind))
        cycleOps.count(_.ok) / (cycleOps.map(_.ms).sum / 1000.0)
      },
      "upsert.stored_bytes_per_live_byte" -> stored / liveBytes,
      "plans.merge_plan_ms" -> plan(Set("merge")),
      "plans.read_plan_ms" -> plan(Set("lookup", "history")),
      "sources.merge_exec_ms" -> Stats.median(merges.map(o => o.ms - o.planMs)),
      "sources.files_written_per_merge" -> avg(windowMerges.map(_._1.toDouble).toSeq),
      "sources.bytes_written_per_merge" -> avg(windowMerges.map(_._2.toDouble).toSeq),
      "sources.write_amp" -> avg(windowMerges.map { case (_, b, n) =>
        b / (n * liveBytes / liveRows) }.toSeq),
      "sources.files_scanned_per_lookup" -> avg(windowLookups.map(_._1.toDouble).toSeq),
      "sources.files_skipped_frac" -> avg(windowLookups.map { case (s, t) =>
        1.0 - s.toDouble / math.max(1L, t) }.toSeq),
      "sources.table_files" -> last.getAs[Long]("n_files").toDouble,
      "sources.table_versions" -> history.length.toDouble,
      "sources.commit_rebases" -> history.map(r =>
        r.getAs[Long]("rebases") + r.getAs[Long]("rederives")).sum.toDouble)
  }
}

object OrdersArchive extends AdaptiveSparkPlanHelper {
  /** Files the executed scan of a finished query opened. */
  def filesScanned(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}
