package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.SnapshotTable

/** Seeded keyed component table: `key` is the registration order, so
  * the highest keys are the most recently registered voters. Every row's
  * `ncid` and `payload` are functions of (key, version, seed), which is
  * what lets a lookup be checked against the last version written. */
object SnapshotGen {
  val BaseRows = 40000L
  val BaseFiles = 8
  val BatchRows = 300
  val NewKeyFrac = 0.1
  /** batch keys that already exist come from the newest this-share of keys */
  val RecentFrac = 0.05
  val BloomBits = 131072

  val KeyCols = Seq("key")
  val StatsCols = Seq("key")
  val BloomCols = Seq("ncid")

  private val Mod = 10000000000L
  def ncid(key: Long, seed: Long): String =
    f"NC${java.lang.Math.floorMod(key * 7919L + seed, Mod)}%010d"

  def payload(key: Long, version: Long, seed: Long): String = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s"$key:$version:$seed".getBytes(StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  val schema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("ncid", StringType), StructField("last_name", StringType),
    StructField("first_name", StringType), StructField("county", StringType),
    StructField("status", StringType), StructField("party", StringType),
    StructField("zip", StringType), StructField("version", LongType),
    StructField("payload", StringType)))

  private val names = Seq("SMITH", "JOHNSON", "WILLIAMS", "BROWN", "JONES",
    "GARCIA", "MILLER", "DAVIS", "O'BRIEN", "MÜLLER", "NGUYEN", "LEE")
  private val firsts = Seq("JAMES", "MARY", "ROBERT", "PATRICIA", "JOHN",
    "LINDA", "JOSÉ", "ZOË", "DAVID", "SUSAN")
  private val counties = Seq("WAKE", "MECKLENBURG", "DURHAM", "GUILFORD", "PITT")
  private val statuses = Seq("A", "I", "R", "D")
  private val parties = Seq("DEM", "REP", "UNA", "LIB")

  /** The base table as a Spark plan (every column derived from `key`). */
  def baseFrame(spark: org.apache.spark.sql.SparkSession, seed: Long): DataFrame = {
    def pick(xs: Seq[String], salt: Int) =
      element_at(array(xs.map(lit): _*),
        (pmod(col("key") * lit(31L + salt) + lit(seed), lit(xs.size.toLong)) + 1).cast("int"))
    spark.range(1L, BaseRows + 1, 1L, BaseFiles).toDF("key")
      .select(col("key"),
        concat(lit("NC"), lpad(pmod(col("key") * 7919L + lit(seed), lit(Mod))
          .cast("string"), 10, "0")).as("ncid"),
        pick(names, 1).as("last_name"), pick(firsts, 2).as("first_name"),
        pick(counties, 3).as("county"), pick(statuses, 4).as("status"),
        pick(parties, 5).as("party"),
        (pmod(col("key"), lit(2000L)) + 27000L).cast("string").as("zip"),
        lit(0L).as("version"),
        md5(concat_ws(":", col("key").cast("string"), lit("0"), lit(seed.toString)))
          .as("payload"))
  }

  /** Batch `cycle` (1-based) against a table whose largest key is
    * `maxKey`: distinct existing keys from the newest [[RecentFrac]]
    * share plus a few brand-new keys, all at version `cycle`. */
  def batch(seed: Long, cycle: Int, maxKey: Long): Seq[Row] = {
    val r = new Random(seed * 1000003L + cycle)
    val nNew = (BatchRows * NewKeyFrac).toInt
    val window = math.max(BatchRows * 4L, (maxKey * RecentFrac).toLong)
    val old = mutable.LinkedHashSet[Long]()
    while (old.size < BatchRows - nNew)
      old += maxKey - (r.nextDouble() * window).toLong
    val keys = old.toSeq ++ ((maxKey + 1) to (maxKey + nNew))
    def pick(xs: Seq[String]) = xs(r.nextInt(xs.size))
    keys.map { k =>
      Row(k, ncid(k, seed), pick(names), pick(firsts), pick(counties),
        pick(statuses), pick(parties), (27000 + r.nextInt(2000)).toString,
        cycle.toLong, payload(k, cycle, seed))
    }
  }

  /** Raw bytes of rows: their fields as tab-separated UTF-8 lines. */
  def rawBytes(rows: Seq[Row]): Long =
    rows.map(_.toSeq.map(v => String.valueOf(v)).mkString("\t", "\t", "\n")
      .drop(1).getBytes(StandardCharsets.UTF_8).length.toLong).sum

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

/** Snapshot upkeep, the second half of every reference cycle: a keyed
  * voter registry (range-clustered on `key`, key stats, `ncid` Bloom
  * filter) takes one small `SnapshotTable.upsertTargeted` batch per
  * cycle, and users look voters up through `SnapshotTable.table`, by
  * `ncid` or by `key`. */
final class SnapshotUpkeep(ctx: Ctx) {
  import SnapshotGen._

  private def spark = ctx.spark
  private def rec = ctx.rec
  private lazy val root = s"${ctx.work}/registry"
  private var maxKey = BaseRows
  private var cycle = 0
  /** last version written per key, for keys written after the base */
  private val lastVersion = mutable.HashMap[Long, Long]()
  private val recentKeys = mutable.ArrayBuffer[Long]()
  private var rows: Seq[Row] = Nil
  private var batchDf: DataFrame = _
  private var filesBefore: Map[String, Long] = Map.empty

  // the generator's sizes are part of the cache key
  private def pristine =
    Paths.get(s"${ctx.cache}/registry-${ctx.seed}-$BaseRows-$BaseFiles-$BloomBits")

  def generate(): Unit = {
    val done = pristine.resolve(".done")
    if (!Files.exists(done)) {
      deleteTree(pristine)
      // range-clustered on key, as a compacted table is: each of the
      // range's slices holds one contiguous key range and becomes one file
      val base = baseFrame(spark, ctx.seed)
      SnapshotTable.commit(spark, pristine.resolve("table").toString, base,
        statsCols = StatsCols, bloomCols = BloomCols, bloomBits = BloomBits)
      Files.createFile(done)
    }
    deleteTree(Paths.get(root))
    copyTree(pristine.resolve("table"), Paths.get(root))
  }

  private def fileBytes(): Map[String, Long] = {
    val s = Files.walk(Paths.get(root, "data"))
    try s.iterator.asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  /** Untimed: this cycle's batch. */
  def before(): Unit = {
    cycle += 1
    rows = batch(ctx.seed, cycle, maxKey)
    batchDf = spark.createDataFrame(rows.asJava, schema)
    filesBefore = fileBytes()
  }

  /** The upsert; returns the batch's row count. */
  def upsert(): Long = {
    val ((_, rewritten, kept), secs) = Recorder.clock(ctx.span("core.SnapshotTable.upsertTargeted") {
      SnapshotTable.upsertTargeted(batchDf, root, KeyCols, statsCols = StatsCols,
        bloomCols = BloomCols, bloomBits = BloomBits)
    })
    // bookkeeping happens only after a successful commit
    rec.sample("upsert_s", secs)
    rec.sample("upsert_rewritten", rewritten)
    rec.sample("upsert_kept", kept)
    rec.sample("upsert_bytes_written",
      fileBytes().filter { case (p, _) => !filesBefore.contains(p) }.values.sum.toDouble)
    rec.sample("upsert_raw_bytes", rawBytes(rows).toDouble)
    rows.foreach { r =>
      lastVersion(r.getLong(0)) = cycle.toLong
      recentKeys += r.getLong(0)
    }
    maxKey = rows.map(_.getLong(0)).max.max(maxKey)
    rows.size.toLong
  }

  /** `n` checked lookups: half on keys the cycles rewrote, half on any
    * key; half by `ncid` (Bloom-pruned), half by `key` (range-pruned). */
  def lookups(n: Int, r: Random): Unit = (1 to n).foreach { i =>
    val k =
      if (i % 2 == 0 && recentKeys.nonEmpty) recentKeys(r.nextInt(recentKeys.size))
      else 1L + (r.nextDouble() * maxKey).toLong
    val byNcid = i % 4 < 2
    ctx.read(if (byNcid) "lookup by ncid" else "lookup by key") {
      val t0 = System.nanoTime
      val df = ctx.span("core.SnapshotTable.table")(SnapshotTable.table(spark, root))
        .filter(if (byNcid) col("ncid") === ncid(k, ctx.seed) else col("key") === k)
      val t1 = System.nanoTime
      ctx.span("catalyst.plan")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime
      val rows = ctx.span("exec")(df.collect())
      val t3 = System.nanoTime
      rec.sample("lookup_table_ms", (t1 - t0) / 1e6)
      rec.sample("lookup_plan_ms", (t2 - t1) / 1e6)
      rec.sample("lookup_exec_ms", (t3 - t2) / 1e6)
      rows
    }.foreach { rows =>
      rec.check("lookup returns exactly the last value written for its key") {
        val v = lastVersion.getOrElse(k, 0L)
        rows.length == 1 && rows(0).getLong(0) == k &&
          rows(0).getString(1) == ncid(k, ctx.seed) &&
          rows(0).getLong(8) == v && rows(0).getString(9) == payload(k, v, ctx.seed)
      }
    }
  }

  def finish(): Unit =
    rec.count("files_total", SnapshotTable.dataFiles(spark, root).size)
}
