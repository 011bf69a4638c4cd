package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.core.SnapshotTable

/** Transparent data skipping via the manifest-backed FileIndex
  * ([[graft.sources.SnapshotFileIndex]]): plain `.filter(...)` on
  * `SnapshotTable.table` must open ONLY the files whose recorded
  * sections admit the predicate — proven through the executed scan's
  * `numFiles` metric, not row counts (parquet row-group pruning hides
  * unskipped files from row-level evidence). */
class SnapshotFileIndexSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snapidx_spec").toString + "/t"

  /** Files the executed plan's parquet scan actually selected. The
    * queries here are scan+filter+collect (no exchange), so AQE never
    * wraps the plan and the scan node is directly collectible. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no FileSourceScanExec in the executed plan")
    scans.map(_.metrics("numFiles").value).sum
  }

  test("range + bloom sections prune through pushed-down filters: " +
      "equality, open ranges, IN, OR — all with row-identical results") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root,
      spark.range(0L, 400L).selectExpr("id as k", "md5(concat('v', id)) as v")
        .repartitionByRange(4, col("k")),
      statsCols = Seq("k"), bloomCols = Seq("k"))
    val t = SnapshotTable.table(spark, root)
    assert(scannedFiles(t) == 4L) // no filter: every file

    def check(cond: org.apache.spark.sql.Column, maxFiles: Long): Unit = {
      val pruned = t.filter(cond)
      val n = scannedFiles(pruned)
      assert(n <= maxFiles, s"expected <= $maxFiles files for $cond, " +
        s"scanned $n")
      val got = pruned.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val want = SnapshotTable.read(spark, root).filter(cond)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want, s"pruned scan diverged for $cond")
    }
    check(col("k") === 37L, 1)
    check(col("k") === 37L && col("v").isNotNull, 1) // AND composes
    check(col("k") > 390L, 1)
    check(col("k") <= 9L, 1)
    check(col("k").between(150L, 170L), 2)
    check(col("k") === 5L || col("k") === 395L, 2) // OR unions keeps
    check(col("k").isin(5L, 205L), 2)
    // a 12-element IN converts to InSet (threshold 10) — still pruned
    check(col("k").isin(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L,
      11L, 12L), 1)
    // untranslatable predicate: every file kept, result still exact
    check(col("v").startsWith("a"), 4)
    // absent key: bloom prunes everything — zero files, empty result
    val none = t.filter(col("k") === 100000L)
    assert(scannedFiles(none) == 0L)
    assert(none.count() == 0L)
  }

  test("category sections prune string equality transparently; an " +
      "absent value scans zero files") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root,
      spark.range(0L, 400L).selectExpr("id as k",
          "concat('g', id % 4) as g")
        .repartition(4, col("g")),
      categoryCols = Seq("g"))
    val t = SnapshotTable.table(spark, root)
    val total = scannedFiles(t)
    val one = t.filter(col("g") === "g2")
    val n = scannedFiles(one)
    assert(n < total, s"category pruning never engaged: $n of $total")
    assert(one.count() == 100L)
    assert(scannedFiles(t.filter(col("g") === "nope")) == 0L)
  }

  test("a live deletion vector falls back to the MOR read path — " +
      "row-identical, tombstones applied") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root,
      spark.range(0L, 100L).selectExpr("id as k", "concat('v', id) as v")
        .repartitionByRange(4, col("k")), statsCols = Seq("k"))
    SnapshotTable.deleteWhereDV(spark, root, col("k") === 7L)
    val t = SnapshotTable.table(spark, root)
    assert(t.count() == 99L, "the fallback must apply the tombstones")
    assert(t.filter(col("k") === 7L).count() == 0L)
    // after compaction folds the DV, transparent pruning returns
    SnapshotTable.compactSnapshot(spark, root,
      targetFileBytes = 1L, statsCols = Seq("k"))
    assert(SnapshotTable.dvFileCount(spark, root) == 0)
    val t2 = SnapshotTable.table(spark, root)
    assert(t2.count() == 99L)
    assert(scannedFiles(t2.filter(col("k") === 50L)) <
      scannedFiles(t2))
  }

  test("snapshot reads carry spark.read.parquet's schema field for " +
      "field (non-nullable, nested struct/array, across commits) and " +
      "its rows, deletion vectors included") {
    val root = freshRoot()
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr(
        "id as k", "concat('v', id) as v",
        "named_struct('a', id, 'b', array(id, id + 1)) as s",
        "array(named_struct('x', cast(id as int))) as xs")
      .repartitionByRange(2, col("k"))
    val first = rows(0L, 60L)
    assert(!first.schema("k").nullable && !first.schema("s").nullable,
      "the fixture must carry non-nullable fields")
    val v1 = SnapshotTable.commit(spark, root, first, statsCols = Seq("k"))
    val v2 = SnapshotTable.append(spark, root, rows(60L, 100L),
      statsCols = Seq("k"))

    def sorted(df: org.apache.spark.sql.DataFrame): Seq[Row] =
      df.collect().toSeq.sortBy(_.getLong(0))
    def checkParity(df: org.apache.spark.sql.DataFrame, what: String)
        : Unit = {
      val want = spark.read.parquet(df.inputFiles.toSeq: _*)
      assert(df.schema.fields.toSeq == want.schema.fields.toSeq,
        s"$what schema ${df.schema.treeString} != " +
          want.schema.treeString)
      assert(sorted(df) == sorted(want), s"$what rows diverged")
    }
    checkParity(SnapshotTable.table(spark, root), "table")
    checkParity(SnapshotTable.read(spark, root), "read")
    checkParity(SnapshotTable.readVersion(spark, root, v1), s"v$v1")
    checkParity(SnapshotTable.readVersion(spark, root, v2), s"v$v2")
    assert(SnapshotTable.readVersion(spark, root, v1).count() == 60L)
    assert(SnapshotTable.table(spark, root).count() == 100L)

    // the DV read resolves `_metadata.file_path`/`row_index` on the
    // manifest relation: exactly the deleted rows disappear
    val before = sorted(SnapshotTable.read(spark, root))
    val (_, n, _) = SnapshotTable.deleteWhereDV(spark, root,
      col("k") % 7 === 3L)
    assert(n == before.count(_.getLong(0) % 7 == 3L))
    assert(SnapshotTable.dvFileCount(spark, root) > 0)
    val want = before.filterNot(_.getLong(0) % 7 == 3L)
    assert(sorted(SnapshotTable.read(spark, root)) == want)
    assert(sorted(SnapshotTable.table(spark, root)) == want)
    assert(SnapshotTable.read(spark, root).schema ==
      SnapshotTable.readVersion(spark, root, v2).schema)
  }

  test("string range filters keep their files: a numeric section is " +
      "no bound on lexicographic order, for reads and deleteWhere") {
    val root = freshRoot()
    def part(vs: String*) = spark.createDataFrame(
        vs.map(v => (v, v.length.toLong))).toDF("s", "n").coalesce(1)
    // numeric sections [10,10], [95,99] and [1,1] — yet '10' < '9' and
    // '1' < '9', 'a' > '5' under Spark's string order
    SnapshotTable.commit(spark, root, part("10"), statsCols = Seq("s"))
    SnapshotTable.append(spark, root, part("95", "99"), statsCols = Seq("s"))
    SnapshotTable.append(spark, root, part("1", "a"), statsCols = Seq("s"))
    val files = SnapshotTable.read(spark, root).inputFiles.toSeq
    assert(files.size == 3)
    def strings(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.getString(0)).toSet
    Seq(col("s") < "9", col("s") <= "10", col("s") > "5",
        col("s") >= "a", lit("9") > col("s")).foreach { cond =>
      val want = strings(spark.read.parquet(files: _*).filter(cond))
      assert(strings(SnapshotTable.read(spark, root).filter(cond)) == want,
        s"read diverged for $cond")
      assert(strings(SnapshotTable.table(spark, root).filter(cond)) == want,
        s"table diverged for $cond")
    }
    SnapshotTable.deleteWhere(spark, root, col("s") < "9")
    assert(strings(SnapshotTable.read(spark, root)) == Set("95", "99", "a"))
  }

  test("two reads of one snapshot are one plan: a cached read serves " +
      "the next read, and a new commit's read is not served from it") {
    val root = freshRoot()
    SnapshotTable.commit(spark, root,
      spark.range(0L, 50L).selectExpr("id as k"), statsCols = Seq("k"))
    def fromCache(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r }.nonEmpty
    val cached = SnapshotTable.read(spark, root).cache()
    try {
      assert(cached.count() == 50L)
      assert(fromCache(SnapshotTable.read(spark, root)))
      assert(fromCache(SnapshotTable.table(spark, root)))
      SnapshotTable.append(spark, root,
        spark.range(50L, 60L).selectExpr("id as k"), statsCols = Seq("k"))
      val next = SnapshotTable.read(spark, root)
      assert(!fromCache(next))
      assert(next.count() == 60L)
    } finally cached.unpersist(blocking = true)
  }

  test("building a snapshot read starts no Spark job: table and " +
      "readVersion(...).schema start 0 jobs, a filtered point lookup " +
      "exactly 1, every time") {
    val root = freshRoot()
    val v = SnapshotTable.commit(spark, root,
      spark.range(0L, 400L).selectExpr("id as k", "md5(concat('v', id)) as v")
        .repartitionByRange(4, col("k")),
      statsCols = Seq("k"), bloomCols = Seq("k"))
    val sc = spark.sparkContext
    val group = s"snapidx-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      sc.setJobGroup(group, "snapshot read job count")
      try {
        SpecBus.drain(sc)
        jobs.set(0)
        body
        SpecBus.drain(sc)
        jobs.get
      } finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      (1 to 3).foreach { _ =>
        assert(jobsOf(SnapshotTable.table(spark, root)) == 0)
        assert(jobsOf(SnapshotTable.readVersion(spark, root, v).schema) == 0)
        var got: Array[Row] = null
        assert(jobsOf {
          got = SnapshotTable.table(spark, root)
            .filter(col("k") === 37L).collect()
        } == 1)
        assert(got.map(_.getLong(0)).toSeq == Seq(37L))
      }
    } finally sc.removeSparkListener(listener)
  }
}
