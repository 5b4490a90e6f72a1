package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.sources.SourceSinks

/** The one keyed-state store: the latest row per key, as hash-bucketed,
  * batchId-versioned parquet under `dir`. Every keyed state that outlives
  * a micro-batch commits through it: the streaming twins
  * (`StreamingQueries.streamTwin`), the update-mode stream lanes (s05,
  * s09, s11, s18), the streaming apply (`cdc.StreamApply`, c13) and the
  * JDBC tail (s15). It is the `foreachBatch` sink into a committed,
  * versioned state store of Structured Streaming (SIGMOD 2018).
  *
  * Layout. A key lives in bucket `pmod(hash(keys), buckets)` (bucket 0
  * when `keys` is empty: one global row). Bucket b's versions are the
  * dirs `bkt_<b>/state_v<batchId>`; a version is committed once its
  * `_SUCCESS` marker exists. `position_v<batchId>` files are the
  * committed positions.
  *
  * Merge. `merge(batchId, rows)` merges `rows` into the buckets they hash
  * into and nothing else: the latest row per key by `ord` wins
  * (`max_by(struct, ord)`), so `ord` must strictly increase across the
  * successive rows of one key (an aggregate's `n = count(*)`, a fold's
  * `seq`, a replica row's `last_ord`). All touched buckets land in ONE
  * partitioned write; untouched buckets are never listed, read or
  * written, so a batch costs O(batch + touched-bucket keys), never
  * O(key space). Only a store with a version below the batch probes
  * which buckets the batch touches (one small job over the cached batch,
  * to pick the bases to read); a fresh store merges in the write alone.
  *
  * The merge is last-writer-wins, not `cdc.Apply.fold`, because the rows
  * are not a change stream: a twin's rows are a fold's cumulative
  * emissions, which a replay would double-count. A CDC caller folds its
  * batch with `Apply.fold` (or `flatMapGroupsWithState`) first and merges
  * the fold's rows; a truncate becomes one horizon row (key
  * `StreamApply.TruncPk`, ord = its truncate ord), and the replica readout
  * keeps only rows whose `last_ord` is above the horizon. A key's last
  * write then survives exactly when the full replay's truncate cut keeps
  * it, so last-writer-wins is exact under truncates.
  *
  * Replay. The merge base of a bucket is its highest committed version
  * strictly below `batchId`, so a micro-batch replayed under
  * at-least-once delivery re-merges against the true pre-batch state and
  * rewrites its own version: exactly once per batchId. A crash between
  * bucket commits leaves some buckets at `batchId` and some not; the
  * replay rebuilds both identically. Retirement keeps each bucket's merge
  * base next to the new version (≤ 2 committed versions per bucket) and
  * deletes older ones, `_SUCCESS` first, so a crash mid-delete never
  * leaves a half-deleted dir that reads as committed. Deleting the base
  * itself would strand a replay of this batchId without its pre-batch
  * state; Structured Streaming never replays batch k once k+1 started, so
  * the base is all a replay needs.
  *
  * Commit. `commit(batchId, position)` records a source position (s15:
  * the last applied LSN) after the bucket versions of `batchId`; it is
  * that batch's commit point. Once a store has a position, `panel` reads
  * each bucket as of the last committed one, so bucket versions a crashed
  * batch left behind stay invisible until its replay commits.
  */
final class KeyedStore private (session: SparkSession, val dir: Path,
    keys: Seq[String], ord: String, buckets: Int) {
  import KeyedStore._

  private def bucketOf: Column =
    if (keys.isEmpty) lit(0) else pmod(hash(keys.map(col): _*), lit(buckets))

  private def bucketDir(b: Int): Path = dir.resolve(f"bkt_$b%02d")

  /** Latest committed version per bucket strictly below `below`; a bucket
    * no batch touched has no dir and holds no keys.
    */
  private def latest(below: Long): Seq[(Int, Long, Path)] =
    (0 until buckets).flatMap { b =>
      val bd = bucketDir(b)
      if (!Files.isDirectory(bd)) Nil
      else versions(bd, "state_v").filter(_._1 < below).lastOption
        .map { case (v, p) => (b, v, p) }
    }

  /** The highest batch id any bucket committed, or -1 for an empty store. */
  def lastBatch: Long = latest(Long.MaxValue).map(_._2).foldLeft(-1L)(math.max)

  /** The last committed (batchId, position) strictly below `below`. */
  def position(below: Long = Long.MaxValue): Option[(Long, Long)] =
    versions(dir, "position_v").filter(_._1 < below).lastOption
      .map { case (v, p) => (v, Files.readString(p).trim.toLong) }

  /** The store's rows: one per key, as of the last committed position. */
  def panel: DataFrame = {
    val states = latest(position().fold(Long.MaxValue)(_._1 + 1))
    require(states.nonEmpty,
      s"KeyedStore: no committed state under $dir — no batch held a row")
    session.read.parquet(states.map(_._3.toString): _*)
  }

  /** Merge `rows` (keys ++ value columns, `ord` among them) as `batchId`. */
  def merge(batchId: Long, rows: DataFrame): Unit = {
    val valNames = rows.columns.filterNot(keys.contains).toSeq
    val committed = latest(below = batchId)
    val bdf = rows.withColumn("_bkt", bucketOf)
    // reused for the touched-bucket probe and the merge; a store with no
    // version below batchId has no base to read, so no probe and no cache
    if (committed.nonEmpty) bdf.persist()
    try {
      val bases = if (committed.isEmpty) Nil else {
        val probed = bdf.select("_bkt").distinct()
          .collect().map(_.getInt(0)).toSet // bounded by `buckets`
        committed.filter(b => probed.contains(b._1))
      }
      // ONE multi-path read of every touched bucket's base: a per-path
      // union hands Catalyst a B-ary left-deep plan whose analysis is
      // superlinear in B (minutes in the analyzer at 4096 buckets).
      // _bkt recomputes from the keys with the same bucketOf.
      val merged =
        (if (bases.isEmpty) bdf
        else bdf.unionByName(rows.sparkSession.read
          .parquet(bases.map(_._3.toString): _*).withColumn("_bkt", bucketOf)))
          // the merge's one shuffle, by bucket: each bucket lands as one file
          .repartition(col("_bkt"))
          .groupBy(("_bkt" +: keys).map(col): _*)
          .agg(max_by(struct(valNames.map(col): _*), col(ord)).as("st"))
          .select(col("_bkt") +: (keys.map(col) ++
            valNames.map(v => col("st." + v).as(v))): _*)
      val tmp = dir.resolve(f"inflight_v$batchId%05d")
      if (Files.exists(tmp)) SourceSinks.deleteDir(tmp) // a crashed attempt's
      merged.write.partitionBy("_bkt").mode("overwrite").parquet(tmp.toString)
      // the touched buckets are the partitions the write produced
      val touched = {
        val st = Files.list(tmp)
        try st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_bkt=")).map(_.stripPrefix("_bkt=").toInt).toSeq.sorted
        finally st.close()
      }
      val baseVersion = bases.map(b => b._1 -> b._2).toMap
      touched.foreach { b =>
        val bd = bucketDir(b)
        Files.createDirectories(bd)
        val dst = bd.resolve(f"state_v$batchId%05d")
        if (Files.exists(dst)) SourceSinks.deleteDir(dst) // uncommitted leftover
        Files.move(tmp.resolve(s"_bkt=$b"), dst)
        Files.createFile(dst.resolve("_SUCCESS")) // the bucket's commit
        retire(versions(bd, "state_v"), keep = baseVersion.getOrElse(b, batchId))
      }
      SourceSinks.deleteDir(tmp)
    } finally bdf.unpersist()
  }

  /** Commit `position` for `batchId`, after its bucket versions. */
  def commit(batchId: Long, position: Long): Unit = {
    val base = this.position(below = batchId).fold(batchId)(_._1)
    val tmp = dir.resolve(f"inflight_position_v$batchId%05d")
    Files.writeString(tmp, position.toString)
    // moved into place whole: a torn record never reads as committed
    Files.move(tmp, dir.resolve(f"position_v$batchId%05d"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    retire(versions(dir, "position_v"), keep = base)
  }

  /** An update-mode writer of `stream` that merges each micro-batch as
    * its batchId; callers add options and `start()` it.
    */
  def sink(stream: DataFrame): DataStreamWriter[Row] =
    stream.writeStream.outputMode("update")
      .foreachBatch((df: DataFrame, batchId: Long) => merge(batchId, df))
}

object KeyedStore {
  /** Bucket count of a store whose key space is small and bounded. */
  val DefaultBuckets = 16

  /** Buckets for a key space of `keySpace` keys: ⌈keySpace /
    * targetKeysPerBucket⌉ like table bucketing, clamped to
    * [DefaultBuckets, 4096]. The floor keeps small axes multi-bucket; the
    * cap bounds the dir fan-out (4096 × 512 keys covers 2M keys; raise the
    * target beyond that). A touched bucket then rewrites
    * O(targetKeysPerBucket) rows whatever the key space.
    */
  def sizedBuckets(keySpace: Long, targetKeysPerBucket: Long = 512): Int = {
    require(targetKeysPerBucket > 0, "targetKeysPerBucket must be positive")
    val b = (keySpace + targetKeysPerBucket - 1) / targetKeysPerBucket
    math.max(DefaultBuckets.toLong, math.min(4096L, b)).toInt
  }

  /** The store under `dir` (created or reopened). */
  def open(s: SparkSession, dir: Path, keys: Seq[String], ord: String,
      buckets: Int = DefaultBuckets): KeyedStore =
    new KeyedStore(s, dir, keys, ord, buckets)

  /** `body` over a fresh store in a scratch dir that is deleted when
    * `body` returns or throws; `body` must materialize what it returns.
    */
  def scratch[T](s: SparkSession, keys: Seq[String], ord: String,
      buckets: Int = DefaultBuckets)(body: KeyedStore => T): T = {
    val dir = Files.createTempDirectory("graft_store")
    try body(open(s, dir, keys, ord, buckets))
    finally SourceSinks.deleteDir(dir)
  }

  /** Committed versions `<prefix><batchId>` under `parent`, ascending: a
    * state dir once its `_SUCCESS` marker exists, a position file once it
    * exists (it is moved into place whole).
    */
  private def versions(parent: Path, prefix: String): Seq[(Long, Path)] = {
    val st = Files.list(parent)
    try st.iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith(prefix) &&
        (!Files.isDirectory(p) || Files.exists(p.resolve("_SUCCESS"))))
      .map(p => (p.getFileName.toString.stripPrefix(prefix).toLong, p))
      .sortBy(_._1)
    finally st.close()
  }

  /** Delete the versions below `keep`, a dir's `_SUCCESS` first. */
  private def retire(vs: Seq[(Long, Path)], keep: Long): Unit =
    vs.filter(_._1 < keep).foreach { case (_, p) =>
      if (Files.isDirectory(p)) Files.deleteIfExists(p.resolve("_SUCCESS"))
      SourceSinks.deleteDir(p)
    }
}
