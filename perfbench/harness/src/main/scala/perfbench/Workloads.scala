package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SnapshotLog

/** What one op returned: whether its result checked out, and the
  * digest the checker compares (rows and hash). */
final case class Outcome(ok: Boolean, rows: Long, hash: String, err: String = "")

/** One timed operation: a name, its class (`read` commits nothing and
  * writes no files, `write` does), and the call itself. */
final case class Op(name: String, cls: String, run: () => Outcome)

trait Workload {
  /** Builds the fixtures the ops need; runs before the warm calls. */
  def fixture(): Unit
  /** The warm calls, outside the timed region: with the fixture, every
    * op kind at least once. */
  def warmOps: Seq[Op]
  /** The `i`-th timed op, or None when the run stops before it
    * (`timeUp` says whether the measuring time is over). A run times
    * whole rounds (inventory passes, commit_log blocks), at least as many
    * as together outlast 15 s on a 4-core machine, so every run there
    * does the same work: a run stopped at the first round boundary after
    * the measuring time would do one round more when the machine is fast
    * than when it is slow, and that round, later in the JIT's warm-up and
    * the log's growth, would move the means with the machine's speed. */
  def next(i: Int, timeUp: Boolean): Option[Op]
  /** Workload-level readings taken after the timed region. */
  def finish(): Map[String, Any] = Map.empty
  /** Extra per-op readings for a traced op, taken after its clock
    * stopped. */
  def traceExtra(op: Op): Map[String, Any] = Map.empty
}

/** A fixed list of declared inventory keys, each with its class, run as
  * seeded permutations, at least three passes. The result check happens
  * outside the harness (the digest is compared with recorded
  * references), so `ok` here only says the call did not throw. */
final class Inventory(spark: SparkSession, data: String, keys: Seq[(String, String)], seed: Long)
    extends Workload {
  private val fns = graft.SparkEntry.queries
  private val unknown = keys.map(_._1).filterNot(fns.contains)
  require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")
  private val rnd = new scala.util.Random(seed)
  private var pass: IndexedSeq[(String, String)] = IndexedSeq.empty

  private def op(key: String, cls: String) = Op(key, cls, () => {
    val d = Digest.of(fns(key)(spark, data))
    Outcome(ok = true, d.rows, d.hash)
  })

  def fixture(): Unit = ()
  /** Two passes: the first builds staged tables and compiles each key's
    * code, the second gives the JIT the engine's shared hot paths, so the
    * timed passes do not run in a still-warming JVM. */
  def warmOps: Seq[Op] = Seq.fill(2)(keys.map { case (k, c) => op(k, c) }).flatten
  def next(i: Int, timeUp: Boolean): Option[Op] = {
    val j = i % keys.size
    if (j == 0) {
      if (timeUp && i >= 3 * keys.size) return None
      pass = rnd.shuffle(keys.toIndexedSeq)
    }
    Some(op(pass(j)._1, pass(j)._2))
  }
}

/** Row count, key sum and checksum sum of a set of commit_log rows. */
final case class Agg(rows: Long, keySum: Long, ckSum: Long) {
  def +(k: Long, c: Long): Agg = Agg(rows + 1, keySum + k, ckSum + c)
  def -(k: Long, c: Long): Agg = Agg(rows - 1, keySum - k, ckSum - c)
}

/** A generated stream of commits and reads against one SnapshotLog
  * table of (k, v, p) longs seeded from `lineitem`. The harness keeps the table's live
  * contents in memory (key -> value checksum) and the aggregate of
  * every committed version; every read's row count, key sum and
  * checksum sum must equal the model's. */
final class CommitLogWorkload(spark: SparkSession, data: String, tmp: File, seed: Long)
    extends Workload {
  import spark.implicits._

  private val table = new File(tmp, "commit_log_table").getAbsolutePath
  private val rnd = new scala.util.Random(seed)

  /** Per-row checksum; bounded so the sums stay exact in a long. */
  private def cks(k: Long, v: Long, p: Long): Long =
    (k % 1000003L) * 1009L + (v % 1000003L) * 31L + (p % 1000003L)
  private val cksCol =
    (col("k") % 1000003L) * 1009L + (col("v") % 1000003L) * 31L + (col("p") % 1000003L)

  private val live = new java.util.TreeMap[java.lang.Long, (Long, Long)]()
  private var agg = Agg(0, 0, 0)
  private val byVersion = mutable.LinkedHashMap[Int, Agg]()
  private var nextKey = 0L

  private def put(k: Long, v: Long, p: Long): Unit = {
    Option(live.put(k, (v, p))).foreach { case (ov, op) => agg = agg - (k, cks(k, ov, op)) }
    agg = agg + (k, cks(k, v, p))
  }
  /** Removes the keys in [lo, hi]; returns how many were live. */
  private def remove(lo: Long, hi: Long): Long = {
    val sub = live.subMap(lo, true, hi, true)
    val n = sub.size.toLong
    sub.forEach((k, vp) => agg = agg - (k, cks(k, vp._1, vp._2)))
    sub.clear()
    n
  }
  private def modelOf(lo: Long, hi: Long): Agg = {
    var a = Agg(0, 0, 0)
    live.subMap(lo, true, hi, true).forEach((k, vp) => a = a + (k, cks(k, vp._1, vp._2)))
    a
  }

  private def aggOf(df: DataFrame): Agg = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("k")), lit(0L)), coalesce(sum(cksCol), lit(0L))).head()
    Agg(r.getLong(0), r.getLong(1), r.getLong(2))
  }
  private def check(got: Agg, want: Agg): Outcome =
    if (got == want) Outcome(ok = true, got.rows, s"${got.keySum}-${got.ckSum}")
    else Outcome(ok = false, got.rows, s"${got.keySum}-${got.ckSum}", s"model $want, read $got")

  private def frame(rows: Seq[(Long, Long, Long)]): DataFrame = rows.toDF("k", "v", "p")

  /** Commits made by the fixture after the seed commits. */
  private val GrowthCommits = 32

  def fixture(): Unit = {
    // lineitem's (orderkey, linenumber) pairs are not unique in the
    // generated tables, so keys are assigned in a total row order
    val li = spark.read.parquet(s"$data/lineitem.parquet")
      .select(
        col("l_orderkey"), col("l_linenumber").cast("long"), col("l_partkey"),
        col("l_suppkey"), (col("l_extendedprice") * 100).cast("long").as("v"))
    val rows = li.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sorted.zipWithIndex
      .map { case ((_, _, part, _, v), i) => (i * 8L, v, part) }
    // four key-clustered seed commits, so range pruning has files to skip
    rows.grouped((rows.length + 3) / 4).foreach { part =>
      part.foreach { case (k, v, p) => put(k, v, p) }
      byVersion(SnapshotLog.commit(spark, table, frame(part.toSeq))) = agg
    }
    byVersion(SnapshotLog.buildBloomIndex(spark, table, "k")) = agg
    nextKey = rows.last._1 + 1
    // a long log before the clock starts: small appends and MoR deletes,
    // compacted every 4 commits. A version with many tiny files costs a
    // past-version read several times what the others do, so a looser
    // cadence made read_version's mean hang on which versions the seed
    // picked.
    (1 to GrowthCommits).foreach { n =>
      (if (n % 4 == 0) compact() else if (n % 4 == 2) deleteMor(40) else append(8)).run()
    }
  }

  private def liveKey(): Long = {
    val lo = live.firstKey.longValue
    val hi = live.lastKey.longValue
    val at = live.ceilingKey(lo + (rnd.nextDouble() * (hi - lo)).toLong)
    if (at == null) hi else at.longValue
  }

  private def freshBatch(n: Int): Seq[(Long, Long, Long)] =
    Seq.fill(n) {
      nextKey += 1 + rnd.nextInt(3)
      (nextKey, rnd.nextInt(10000000).toLong, rnd.nextInt(20000).toLong)
    }

  /** A write's outcome: the rows it changed, and the version. Writes
    * are checked by the reads that follow them. */
  private def wrote(version: Int, changed: Long): Outcome = {
    byVersion(version) = agg
    Outcome(ok = true, changed, s"v$version")
  }

  private def append(rows: Int = 400): Op = Op("append", "write", () => {
    val batch = freshBatch(rows)
    val v = SnapshotLog.commit(spark, table, frame(batch))
    batch.foreach { case (k, x, p) => put(k, x, p) }
    wrote(v, batch.size)
  })

  private def rangeOf(width: Long): (Long, Long) = { val lo = liveKey(); (lo, lo + width) }

  private def deleteCow(): Op = Op("delete_cow", "write", () => {
    val (lo, hi) = rangeOf(600)
    val (v, _, _) = SnapshotLog.deleteWhere(spark, table, "k", lo, hi)
    wrote(v, remove(lo, hi))
  })

  private def deleteMor(width: Long = 600): Op = Op("delete_mor", "write", () => {
    val (lo, hi) = rangeOf(width)
    val (v, _, _) = SnapshotLog.deleteWhereMoR(spark, table, "k", lo, hi)
    wrote(v, remove(lo, hi))
  })

  private def merge(): Op = Op("merge", "write", () => {
    val updates = Seq.fill(100)(liveKey()).distinct.map(k => (k, rnd.nextInt(10000000).toLong, 7L))
    val changes = updates ++ freshBatch(100)
    val ch = frame(changes)
    val (v, _, _) = SnapshotLog.mergeCoW(spark, table, "k", ch.select("k"),
      base => base.join(ch.select("k"), Seq("k"), "left_anti").unionByName(ch))
    changes.foreach { case (k, x, p) => put(k, x, p) }
    wrote(v, changes.size)
  })

  private def compact(): Op = Op("compact", "write", () => {
    val (v, _, _) = SnapshotLog.compact(spark, table, smallerThanBytes = 64L << 10, targetBytes = 512L << 10)
    wrote(v, 0L)
  })

  private def readLatest(): Op = Op("read_latest", "read", () =>
    check(aggOf(SnapshotLog.read(spark, table)), agg))

  private def readVersion(): Op = Op("read_version", "read", () => {
    val vs = byVersion.keys.toIndexedSeq
    val v = vs(rnd.nextInt(vs.size))
    check(aggOf(SnapshotLog.read(spark, table, Some(v))), byVersion(v))
  })

  // the last read's key range, for traceExtra
  private var lastRange = (0L, 0L)

  private def readPoint(): Op = Op("read_point", "read", () => {
    val k = if (rnd.nextInt(4) == 0) nextKey - rnd.nextInt(100000) else liveKey()
    lastRange = (k, k)
    check(aggOf(SnapshotLog.readPoint(spark, table, "k", k)), modelOf(k, k))
  })

  private def readRange(): Op = Op("read_range", "read", () => {
    val (lo, hi) = rangeOf(2000)
    lastRange = (lo, hi)
    check(aggOf(SnapshotLog.readPruned(spark, table, "k", lo, hi)), modelOf(lo, hi))
  })

  /** The kinds the log's growth has not run yet. */
  def warmOps: Seq[Op] =
    Seq(readLatest(), merge(), readVersion(), deleteCow(), readPoint(), readRange(), readLatest())

  /** One block of ops: half of them read, in seeded order, and a
    * compaction last, so every block's reads see the same compaction
    * cadence. A run times at least four blocks. */
  private def block(): IndexedSeq[() => Op] = rnd.shuffle(IndexedSeq[() => Op](
    () => append(), () => append(), () => deleteCow(), () => deleteCow(), () => deleteMor(),
    () => merge(), () => merge(),
    () => readLatest(), () => readLatest(), () => readVersion(), () => readVersion(),
    () => readPoint(), () => readPoint(), () => readRange(), () => readRange())) :+ (() => compact())
  private var current: IndexedSeq[() => Op] = IndexedSeq.empty

  def next(i: Int, timeUp: Boolean): Option[Op] = {
    val j = i % 16
    if (j == 0) {
      if (timeUp && i >= 4 * 16) return None
      current = block()
    }
    Some(current(j)())
  }

  /** Files the log's own pruning keeps for the read op just run
    * (stats for a range, the bloom index for a point). */
  override def traceExtra(op: Op): Map[String, Any] = {
    val (lo, hi) = lastRange
    val pruned = op.name match {
      case "read_range" => Some(SnapshotLog.prunedFiles(spark, table, "k", lo, hi))
      case "read_point" => Some(SnapshotLog.prunedFilesBloom(spark, table, "k", lo))
      case _            => None
    }
    pruned.map { case (kept, total) => Map("files_kept" -> kept.size, "files_total" -> total) }
      .getOrElse(Map.empty)
  }

  override def finish(): Map[String, Any] = {
    val versions = SnapshotLog.versions(spark, table)
    val logBytes = Probe.dirBytes(new File(table, "_log"))
    val stored = Probe.dirBytes(new File(table))
    // the live rows rewritten as one parquet file: the user's bytes
    val one = new File(tmp, "commit_log_live_one_file").getAbsolutePath
    SnapshotLog.read(spark, table).coalesce(1).write.mode("overwrite").parquet(one)
    val userBytes = new File(one).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    Map(
      "versions" -> versions.size,
      "meta_bytes_per_commit" -> logBytes.toDouble / versions.size,
      "files_live" -> SnapshotLog.manifest(spark, table, versions.last).size,
      "stored_bytes" -> stored,
      "user_bytes" -> userBytes,
      "live_rows" -> agg.rows)
  }
}
