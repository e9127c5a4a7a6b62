package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.concurrent.{Callable, ExecutionException, Executors, LinkedBlockingQueue,
  TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat_ws, conv, count, expr, lit, md5,
  substring, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.{GraftSession, SparkEntry}
import graft.operators.{CdcMerge, ChangeFeed, Maintain}
import graft.sources.LakeTable
import graft.streaming.CdcStream

/** One client-side operation: an epoch, a read, a query or a compaction.
  * `ok = false` ops never contribute a latency sample. */
final class Op(val kind: String, val startMs: Long) {
  var endMs: Long = startMs
  var seconds: Double = 0.0
  var ok: Boolean = true
  var error: String = ""
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  def toMap: Map[String, Any] = Map("kind" -> kind, "start_ms" -> startMs, "end_ms" -> endMs,
    "s" -> seconds, "ok" -> ok, "error" -> error) ++ attrs
}

/** Order-independent fingerprint of a row set: the sum, modulo 2^64, of the
  * first 8 bytes of md5 over each row's rendered fields. The reference side
  * (perfbench/reference.py) renders the same way in DuckDB SQL. */
object Fingerprint {
  val stateCols: Seq[String] = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
  val feedCols: Seq[String] = Seq("conv_id", "turn_idx", "_change", "_old_lsn", "_new_lsn",
    "role", "text", "tool", "ts")

  private def render(v: Any): String = v match {
    case null => "\\N"
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case x => x.toString
  }

  /** (row count, fingerprint as an unsigned decimal string). */
  def of(rows: Iterator[Row], cols: Seq[String]): (Long, String) = {
    val md = MessageDigest.getInstance("MD5")
    var n = 0L
    var sum = 0L
    var idx: Seq[Int] = null
    rows.foreach { r =>
      if (idx == null) idx = cols.map(r.fieldIndex)
      val s = idx.map(i => render(r.get(i))).mkString("\u001f")
      sum += ByteBuffer.wrap(md.digest(s.getBytes(UTF_8)), 0, 8).getLong
      n += 1
    }
    (n, java.lang.Long.toUnsignedString(sum))
  }

  /** The same fingerprint computed by Spark over a large row set: the md5
    * prefixes are summed as decimals in one aggregate, then reduced modulo
    * 2^64 here, instead of streaming every row to the driver. */
  def of(df: DataFrame, cols: Seq[String]): (Long, String) = {
    val fields = cols.map { c =>
      val s = if (c == "ts") expr(s"unix_micros($c)").cast("string") else col(c).cast("string")
      coalesce(s, lit("\\N"))
    }
    val prefix = conv(substring(md5(concat_ws("\u001f", fields: _*)), 1, 16), 16, 10)
    val r = df.agg(count(lit(1)), sum(prefix.cast("decimal(20,0)"))).head()
    val total = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    (r.getLong(0), (total mod (BigInt(1) << 64)).toString)
  }
}

/** The benchmark's JVM side. `GraftBench <config.json>` runs one workload
  * against the engine's public API from one client thread and writes the raw
  * op records (plus per-layer metrics when traced) to the config's `out`
  * path; perfbench/run.py checks them and prints the metrics. */
object GraftBench {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final class Cfg(node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
    def int(k: String): Int = node.get(k).asInt()
    def long(k: String): Long = node.get(k).asLong()
    def dbl(k: String): Double = node.get(k).asDouble()
    def bool(k: String): Boolean = node.get(k).asBoolean()
    def has(k: String): Boolean = node.hasNonNull(k)
    def strs(k: String): Seq[String] = node.get(k).elements().asScala.map(_.asText()).toSeq
  }

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Exit if the launching process dies without stopping this JVM, so a
    * killed run cannot leave this JVM running or its work dir behind. */
  private def watchParent(root: String): Unit = {
    val parent = ProcessHandle.current().parent()
    val t = new Thread(() => {
      while (parent.isPresent && parent.get.isAlive) Thread.sleep(1000)
      graft.sources.NioLakeIO.deleteRecursively(root)
      Runtime.getRuntime.halt(3)
    }, "perfbench-parent-watch")
    t.setDaemon(true)
    t.start()
  }

  def main(args: Array[String]): Unit = {
    val c = new Cfg(mapper.readTree(Paths.get(args(0)).toFile))
    val root = c.str("root")
    watchParent(root)
    val spark = GraftSession.local(c.int("cores"), Map(
      "spark.local.dir" -> s"$root/spark-local",
      "spark.sql.warehouse.dir" -> s"$root/warehouse",
      "spark.hadoop.hadoop.tmp.dir" -> s"$root/tmp"))
    val bootS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val tracer = if (c.bool("trace")) Some(new Tracer(spark)) else None
    val bench = new GraftBench(spark, c, tracer)
    try {
      val result = c.str("workload") match {
        case "tail_read" => bench.tailRead() ++ bench.common(s"bench-${c.int("setup_rounds")}")
        case "query_suite" => bench.querySuite() ++ bench.common("")
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val layers = tracer.map(_.finish(bench.ops.toSeq, result, c.str("spans_out")))
        .getOrElse(Map.empty)
      val out = Map("boot_s" -> bootS, "ops" -> bench.ops.map(_.toMap)) ++ result ++
        Map("layers" -> layers)
      Files.writeString(Paths.get(c.str("out")), mapper.writeValueAsString(out))
    } finally {
      bench.close()
      spark.stop()
    }
  }
}

final class GraftBench(spark: SparkSession, c: GraftBench.Cfg, tracer: Option[Tracer]) {
  import GraftBench.secsSince

  private val root = c.str("root")
  private val rounds = c.int("setup_rounds")
  private val opTimeoutS = c.dbl("op_timeout_s")
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  // the single client thread: every op runs here so a hung op can be
  // cancelled (job group) and abandoned at its timeout
  private val client = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
  }
  private var opSeq = 0

  def close(): Unit = { client.shutdownNow(); client.awaitTermination(30, TimeUnit.SECONDS) }

  /** Run `body` as op `kind`; a throw or a timeout marks it failed. */
  private def op[T](kind: String)(body: Op => T): (Op, Option[T]) = {
    opSeq += 1
    val group = s"perfbench-op-$opSeq"
    val o = new Op(kind, System.currentTimeMillis())
    val t0 = System.nanoTime()
    val fut = client.submit(new Callable[T] {
      def call(): T = {
        spark.sparkContext.setJobGroup(group, kind, interruptOnCancel = true)
        try body(o) finally spark.sparkContext.clearJobGroup()
      }
    })
    val r = try Some(fut.get((opTimeoutS * 1000).toLong, TimeUnit.MILLISECONDS)) catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(group)
        fut.cancel(true)
        o.ok = false; o.error = s"timeout after ${opTimeoutS}s"; None
      case e: ExecutionException =>
        o.ok = false; o.error = String.valueOf(e.getCause); None
    }
    o.seconds = secsSince(t0)
    o.endMs = System.currentTimeMillis()
    ops += o
    (o, r)
  }

  private def timedLoad(o: Op, dir: String): LakeTable = {
    val t0 = System.nanoTime()
    val t = LakeTable.load(spark, dir)
    o.attrs("load_s") = secsSince(t0)
    t
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def streamCfg(src: String, dir: String, queryId: String) = CdcStream.Config(
    sourceDir = src, tableDir = s"$dir/table", checkpointDir = s"$dir/ckpt",
    queryId = queryId, numBuckets = c.int("num_buckets"), availableNow = false,
    processingTimeMs = c.long("trigger_ms"), maxFilesPerTrigger = Some(c.int("files_per_epoch")))

  private def stateFingerprint(o: Op, table: LakeTable): Unit = {
    val (n, fp) = Fingerprint.of(CdcMerge.state(table), Fingerprint.stateCols)
    o.attrs("count") = n
    o.attrs("fp") = fp
  }

  // ------------------------------------------------------------------ tail_read

  /** Progress events of one stream, handed to the waiting client. */
  private final class Commits(queryName: String) extends StreamingQueryListener {
    val q = new LinkedBlockingQueue[java.lang.Long]()
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.name == queryName && e.progress.durationMs.containsKey("addBatch"))
        q.put(e.progress.batchId)
  }

  /** Block until the batch with id `batchId` has committed. */
  private def awaitBatch(sq: StreamingQuery, commits: Commits, batchId: Long): Unit = {
    val deadline = System.nanoTime() + (opTimeoutS * 1e9).toLong
    var seen = -1L
    while (seen < batchId) {
      sq.exception.foreach(e => throw new IllegalStateException(
        s"stream stopped before committing batch $batchId", e))
      if (!sq.isActive) throw new IllegalStateException(
        s"stream stopped before committing batch $batchId")
      if (System.nanoTime() > deadline) throw new IllegalStateException(
        s"batch $batchId not committed within ${opTimeoutS}s")
      val b = commits.q.poll(50, TimeUnit.MILLISECONDS)
      if (b != null) seen = b
    }
    if (seen != batchId) throw new IllegalStateException(
      s"stream committed batch $seen while waiting for $batchId")
  }

  /** Publish a staged epoch by hard-linking its files into a fresh directory
    * and renaming that directory into the watched source in one step. */
  private def publish(epochDir: Path, watched: Path): Unit = {
    val tmp = watched.resolveSibling(s".${watched.getFileName}-${epochDir.getFileName}")
    Files.createDirectories(tmp)
    Files.list(epochDir).iterator().asScala.toList.sortBy(_.toString)
      .foreach(f => Files.createLink(tmp.resolve(f.getFileName), f))
    Files.move(tmp, watched.resolve(epochDir.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  private def feed(o: Op, dir: String): Array[Row] = {
    val t = timedLoad(o, dir)
    val v = t.snapshot.version
    o.attrs("version") = v
    ChangeFeed.betweenVersions(t, v - 1, v).collect()
  }

  private def lookup(o: Op, dir: String, conv: String): Array[Row] = {
    o.attrs("conv_id") = conv
    CdcMerge.state(timedLoad(o, dir)).filter(col("conv_id") === conv).collect()
  }

  private def fingerprint(o: Op, rows: Option[Array[Row]], cols: Seq[String]): Unit =
    rows.foreach { rs =>
      val (n, fp) = Fingerprint.of(rs.iterator, cols)
      o.attrs("count") = n
      o.attrs("fp") = fp
    }

  /** Closed-loop tail: publish one epoch into a running stream, wait for its
    * commit, read its change feed and one conversation's live turns, once per
    * staged epoch after the warmup one; then one compaction. */
  def tailRead(): Map[String, Any] = {
    val staging = Paths.get(c.str("staging_dir"))
    val epochDirs = Files.list(staging).iterator().asScala.toList.sortBy(_.toString)
    val lookupIds = c.strs("lookup_ids")
    val setupS = mutable.ArrayBuffer[Double]()
    var live: (StreamingQuery, Commits, String) = null
    for (r <- 1 to rounds) {
      val t0 = System.nanoTime()
      val dir = s"$root/round$r"
      val watched = Paths.get(s"$dir/src")
      Files.createDirectories(watched)
      val commits = new Commits(s"bench-$r")
      spark.streams.addListener(commits)
      val sq = CdcStream.start(spark, streamCfg(watched.toString, dir, s"bench-$r"))
      publish(epochDirs.head, watched)
      awaitBatch(sq, commits, 0)
      feed(new Op("warmup", 0L), s"$dir/table")
      lookup(new Op("warmup", 0L), s"$dir/table", lookupIds.head)
      setupS += secsSince(t0)
      if (r < rounds) { sq.stop(); spark.streams.removeListener(commits) }
      else live = (sq, commits, dir)
    }
    val (sq, commits, dir) = live
    val table = s"$dir/table"
    val watched = Paths.get(s"$dir/src")
    val last = epochDirs.size - 1
    for (k <- 1 to last) {
      val o = new Op("epoch", System.currentTimeMillis())
      val p0 = System.nanoTime()
      publish(epochDirs(k), watched)
      awaitBatch(sq, commits, k) // a stream that stops here fails the run
      o.seconds = secsSince(p0)
      o.endMs = System.currentTimeMillis()
      o.attrs("epoch") = k.toLong
      o.attrs("events") = c.long("events_per_epoch")
      ops += o
      val (fo, rows) = op("feed")(feed(_, table))
      fo.attrs("epoch") = k.toLong
      fingerprint(fo, rows, Fingerprint.feedCols)
      val (lo, found) = op("lookup")(lookup(_, table, lookupIds((k - 1) % lookupIds.size)))
      lo.attrs("epoch") = k.toLong
      fingerprint(lo, found, Fingerprint.stateCols)
    }
    sq.stop()
    spark.streams.removeListener(commits)
    sq.exception.foreach(e => throw new IllegalStateException("stream failed", e))

    val before = LakeTable.load(spark, table).snapshot
    val (co, _) = op("compact") { o =>
      Maintain.compact(timedLoad(o, table))
    }
    co.attrs("epoch") = last.toLong
    val after = LakeTable.load(spark, table)
    stateFingerprint(co, after)
    def bytes(files: Seq[graft.sources.FileEntry]) =
      files.map(f => Files.size(Paths.get(s"$table/${f.path}"))).sum
    val bytesBefore = bytes(before.files)
    val bytesAfter = bytes(after.snapshot.files)
    Map("setup_rounds_s" -> setupS.toSeq, "setup_s_median" -> median(setupS.toSeq),
      "table_dir" -> table, "files_before" -> before.files.size, "files_after" -> after.snapshot.files.size,
      "bytes_before" -> bytesBefore, "bytes_after" -> bytesAfter,
      "space_amp" -> bytesBefore.toDouble / math.max(1L, bytesAfter))
  }

  // ---------------------------------------------------------------- query_suite

  /** One pass over the oracle-gated queries, each timed from the call until
    * its result is written; results go to `out_dir` for the oracle check. */
  def querySuite(): Map[String, Any] = {
    val data = c.str("data_dir")
    val out = c.str("out_dir")
    val warm = c.str("warmup")
    val setupS = (1 to rounds).map { r =>
      val t0 = System.nanoTime()
      SparkEntry.queries(warm)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$root/warmup/$r")
      secsSince(t0)
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
    val limit = if (c.has("query_limit")) c.int("query_limit") else names.size
    names.take(limit).foreach { name =>
      val (o, _) = op("query") { o =>
        val b0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, data)
        o.attrs("build_s") = secsSince(b0)
        o.attrs("action_start_ms") = System.currentTimeMillis()
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      }
      o.attrs("name") = name
    }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(SparkEntry.oracleSql))
    Map("setup_rounds_s" -> setupS, "setup_s_median" -> median(setupS))
  }

  /** Result keys every workload reports. */
  def common(streamName: String): Map[String, Any] =
    Map("stream_name" -> streamName, "query_names" -> SparkEntry.queries.keys.toSeq.sorted)
}
