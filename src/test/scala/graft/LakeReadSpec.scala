package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{CdcMerge, ChangeFeed, Maintain}
import graft.sources.{LakeTable, ManifestFileIndex}

/** Lake reads planned from the manifest: `conv_id` lookups scan only their
  * buckets' files, the filters that must not prune do not, a missing data
  * file fails at read time, and no read starts a file-listing job. */
class LakeReadSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** A merge-on-read table of `epochs` appended epochs over 40 conversations. */
  private def table(name: String, epochs: Int, numBuckets: Int = 16): LakeTable = {
    val t = LakeTable.create(spark, tmpDir(name),
      CdcMerge.physicalSchema(Schemas.transcript), numBuckets)
    (0 until epochs).foreach { e =>
      assert(CdcMerge.applyBatch(t, ChangeGen.events(spark, 600L, numConvs = 40,
        maxTurns = 6, pDelete = 0.1, seed = e + 1L, lsnStart = e * 1000L), e.toLong, "q").applied)
    }
    t
  }

  /** `df`'s rows and the number of files its scans read (`numFiles`). */
  private def run(df: DataFrame): (Set[Row], Long) = {
    val rows = df.collect().toSet
    (rows, collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum)
  }

  /** Files of the current snapshot in the buckets `bucketCol` gives `convs`. */
  private def bucketFiles(t: LakeTable, convs: String*): Int = {
    val bs = convs.map(c => spark.range(1)
      .select(LakeTable.bucketCol(lit(c), t.numBuckets)).head().getInt(0)).toSet
    t.snapshot.files.count(f => bs.contains(f.bucket))
  }

  test("conv_id === and isin lookups scan only their buckets' files and match the unpruned read") {
    val t = table("prune", epochs = 3)
    val all = CdcMerge.state(t).collect()
    def driver(convs: Seq[String]) = all.filter(r => convs.contains(r.getString(0))).toSet
    val (one, oneFiles) = run(CdcMerge.state(t).filter(col("conv_id") === "conv-7"))
    assert(one.nonEmpty && one === driver(Seq("conv-7")))
    assert(oneFiles === bucketFiles(t, "conv-7"))
    assert(oneFiles < t.snapshot.files.size)
    // isin below the InSet conversion threshold (an In) and above it (an InSet)
    for (convs <- Seq(Seq("conv-3", "conv-11"), (0 until 12).map(i => s"conv-$i"))) {
      val (rows, files) = run(CdcMerge.state(t).filter(col("conv_id").isin(convs: _*)))
      assert(rows.nonEmpty && rows === driver(convs))
      assert(files === bucketFiles(t, convs: _*))
    }
  }

  test("a null literal, a non-default-collation literal and a non-key filter do not prune") {
    val t = table("noprune", epochs = 2)
    val all = CdcMerge.state(t).collect()
    val cases = Seq[(Column, Row => Boolean)](
      col("conv_id").isin("conv-7", null) -> (_.getAs[String]("conv_id") == "conv-7"),
      (col("conv_id") === collate(lit("CONV-7"), "UTF8_LCASE")) ->
        (_.getAs[String]("conv_id") == "conv-7"),
      (col("role") === "user") -> (_.getAs[String]("role") == "user"))
    cases.foreach { case (p, keep) =>
      val (rows, files) = run(CdcMerge.state(t).filter(p))
      assert(rows.nonEmpty && rows === all.filter(keep).toSet, s"rows under $p")
      assert(files === t.snapshot.files.size, s"$p must not prune")
    }
    // conjuncts the optimizer folds or casts never reach the index as-is:
    // pin the matcher on them directly
    val key = AttributeReference("conv_id", StringType)()
    val conv7 = UTF8String.fromString("conv-7")
    def buckets(e: EqualTo) = ManifestFileIndex.buckets(Seq(e), t.numBuckets)
    assert(buckets(EqualTo(key, Literal(null, StringType))).isEmpty)
    assert(buckets(EqualTo(key, Literal(7))).isEmpty)
    assert(buckets(EqualTo(key, Literal.create(conv7, StringType("UTF8_LCASE")))).isEmpty)
    assert(buckets(EqualTo(AttributeReference("role", StringType)(), Literal("user"))).isEmpty)
    assert(buckets(EqualTo(Literal(conv7, StringType), key)) ===
      Some(Set(ManifestFileIndex.bucketOf(conv7, t.numBuckets))))
  }

  test("a feed across rebucket with a conv_id filter equals the full feed filtered on the driver") {
    val t = table("feed-rebucket", epochs = 1, numBuckets = 8)
    val v1 = t.snapshot.version
    Maintain.rebucket(t, newBuckets = 16)
    val v2 = t.snapshot.version
    assert(CdcMerge.applyBatch(t, ChangeGen.events(spark, 600L, numConvs = 40, maxTurns = 6,
      pDelete = 0.3, seed = 9L, lsnStart = 5000L), 1L, "q").applied)
    val v3 = t.snapshot.version
    def union(a: Long, b: Long) =
      (t.snapshotAt(a).files ++ t.snapshotAt(b).files).map(_.path).distinct.size
    for ((from, pruned) <- Seq(v1 -> false, v2 -> true)) {
      val full = ChangeFeed.betweenVersions(t, from, v3).collect()
      val (rows, files) = run(
        ChangeFeed.betweenVersions(t, from, v3).filter(col("conv_id") === "conv-7"))
      assert(rows.nonEmpty && rows === full.filter(_.getString(0) == "conv-7").toSet)
      // across the rebucket the files carry two bucket counts: no pruning
      if (pruned) assert(files < union(from, v3)) else assert(files === union(from, v3))
    }
  }

  test("read() of a snapshot with a deleted data file fails at read time, not at scan time") {
    val t = table("missing", epochs = 1)
    Files.delete(Paths.get(s"${t.dir}/${t.snapshot.files.head.path}"))
    val e = intercept[IllegalStateException](t.read())
    assert(e.getMessage.contains("1 data file"), e.getMessage)
    intercept[IllegalStateException](CdcMerge.state(t))
    intercept[IllegalStateException](t.readAsOf(t.snapshot.version))
  }

  test("a lookup starts as many jobs on a 10-epoch table as on a 1-epoch table") {
    val small = table("jobs1", epochs = 1)
    val big = table("jobs10", epochs = 10)
    // a path-list read lists in its own Spark job above 32 paths
    assert(small.snapshot.files.size <= 32 && big.snapshot.files.size > 32)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    def lookupJobs(t: LakeTable): Int = {
      def lookup() = CdcMerge.state(t).filter(col("conv_id") === "conv-7").collect()
      lookup() // warm up (codegen) so the counted run is steady-state
      Thread.sleep(500) // listener events are delivered asynchronously
      jobs.set(0)
      lookup()
      Thread.sleep(500)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (n1, n10) = (lookupJobs(small), lookupJobs(big))
      assert(n1 > 0 && n1 === n10, s"1-epoch lookup ran $n1 jobs, 10-epoch ran $n10")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
