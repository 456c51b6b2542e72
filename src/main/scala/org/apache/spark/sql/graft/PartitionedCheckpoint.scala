// Lives in org.apache.spark.sql.graft for access to Dataset.ofRows,
// LogicalRDD and the Catalyst partitioning/ordering types a
// partitioning-preserving checkpoint needs.
package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BoundReference, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types.DataType

/** Eager local checkpoint that KEEPS its hash partitioning and sort
  * order visible to the planner, and sizes its keys in the same job.
  *
  * `Dataset.localCheckpoint()` under AQE loses the child's output
  * partitioning (the adaptive plan's partitioning cannot be rewritten
  * onto the checkpointed LogicalRDD — measured in
  * graft.tools.CkptPartProbe: with AQE on, every keyed consumer of a
  * `repartition(k).localCheckpoint()` re-exchanges; with AQE off it
  * does not). This helper performs the repartition + in-partition
  * sort itself with an EXPLICIT partition count (AQE never rewrites
  * user-numbered repartitions), materializes the RDD eagerly, and
  * rebuilds the DataFrame over a LogicalRDD that declares
  * `HashPartitioning(keys, n)` + ascending key order — so a
  * downstream self-join, keyed aggregation or window partitioned by
  * the same keys plans with NO exchange and NO re-sort.
  *
  * The materializing job is not a bare count: each task run-length
  * scans its key-sorted partition and returns the rows-per-key size
  * histogram as its job result ([[KeyCensus]]). Callers that need the
  * key-size distribution (the co-occurrence basket cap, a distinct-key
  * total) read it from [[byKeyCensus]] instead of running their own
  * groupBy jobs over the pin. Because the histogram is the job's
  * result, not an accumulator, a retried task cannot count twice.
  *
  * SAFETY: the declared metadata must match the physical layout or
  * joins would be silently wrong. It does by construction — the rows
  * come from Spark's own hash exchange + in-partition sort for
  * exactly these keys and count — and the partition count is
  * re-checked against the materialized RDD (loud failure, never a
  * wrong plan). Keys are matched by name, so a frame in which a key
  * name is ambiguous is refused ([[AmbiguousKeyException]]).
  * Checkpoint blocks are RDD-level persists: release via
  * [[graft.functions.Checkpoints.free]]/releaseAll exactly like
  * `localCheckpoint()` frames.
  */
object PartitionedCheckpoint {

  /** A key column name that does not resolve to exactly one output
    * column of the frame being pinned. */
  final class AmbiguousKeyException(msg: String)
    extends IllegalArgumentException(msg)

  /** Rows-per-key size histogram of a pinned frame.
    *
    * @param sizes (rows per key, number of keys with that many rows),
    *              ascending by size — exactly
    *              `groupBy(keys).count().groupBy("count").count()`;
    *              a null key value is one key, as in `groupBy`.
    * @param nullKeys keys with a null in any key column. */
  final case class KeyCensus(sizes: IndexedSeq[(Long, Long)],
                             nullKeys: Long) {
    /** Distinct keys, null keys included (`groupBy(keys)`'s rows). */
    def keys: Long = sizes.iterator.map(_._2).sum
    /** Distinct keys without a null (`COUNT(DISTINCT keys)`). */
    def nonNullKeys: Long = keys - nullKeys
  }

  /** Repartition `df` by `keys` (session shuffle width), sort within
    * partitions by `keys`, eagerly local-checkpoint, and return a
    * frame whose plan DECLARES that partitioning + ordering. */
  def byKey(df: DataFrame, keys: Seq[String]): DataFrame =
    byKeyWith(df, keys)(identity)

  /** [[byKey]] with a partitioning-preserving transform FUSED between
    * the keyed exchange and the materialization: `f` runs on the
    * already-repartitioned frame, so a dedup or keyed aggregation
    * whose grouping keys CONTAIN the partition keys plans with no
    * exchange of its own (HashPartitioning(keys) satisfies
    * ClusteredDistribution(keys ⊆ group cols)) — one shuffle where
    * the unfused `byKey(df.distinct(), keys)` shape pays two (the
    * dedup's own (all-cols) exchange, then the keyed one).
    *
    * SAFETY: the declared metadata is verified against the PHYSICAL
    * plan's own claims — after materialization, the executed plan's
    * `outputPartitioning` must be exactly HashPartitioning(keys, n)
    * (attribute-name match, each key name unique in the output) — so
    * a transform that secretly re-exchanges or otherwise breaks the
    * layout fails LOUDLY here instead of producing wrong joins
    * downstream. */
  def byKeyWith(df: DataFrame, keys: Seq[String])
               (f: DataFrame => DataFrame): DataFrame =
    byKeyCensus(df, keys)(f)._1

  /** [[byKeyWith]], also returning the pinned frame's [[KeyCensus]],
    * taken by the materializing job itself (no extra job). */
  def byKeyCensus(df: DataFrame, keys: Seq[String])
                 (f: DataFrame => DataFrame): (DataFrame, KeyCensus) = {
    require(keys.nonEmpty, "PartitionedCheckpoint.byKey needs keys")
    val spark = df.sparkSession.asInstanceOf[ClassicSession]
    val n = spark.sessionState.conf.numShufflePartitions
    uniqueKeys(df.queryExecution.analyzed.output, keys, "input")
    val rp0 = f(df.repartition(n, keys.map(df.col): _*))
    val output = rp0.queryExecution.analyzed.output
    val keyAttrs = uniqueKeys(output, keys, "transformed")
    val rp = rp0.sortWithinPartitions(keys.map(rp0.col): _*)
    val qe = rp.queryExecution
    // same materialization as Dataset.localCheckpoint(eager = true):
    // copy the reused UnsafeRows, mark for local checkpoint, run one
    // job to persist the blocks and truncate lineage — that job's
    // tasks return their partition's key census
    val rows = qe.toRdd
    // an input the optimizer proves empty plans as a 0-partition
    // relation: give it the n (empty) partitions the metadata declares
    val provedEmpty = rows.getNumPartitions == 0
    val rdd =
      if (provedEmpty) spark.sparkContext.parallelize(Seq.empty[InternalRow], n)
      else rows.map(_.copy())
    rdd.localCheckpoint()
    val keyRefs = keyAttrs.map(a =>
      (qe.analyzed.output.indexWhere(_.exprId == a.exprId), a.dataType))
    val census = mergeCensus(spark.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => runLengths(it, keyRefs)))
    require(rdd.getNumPartitions == n,
      s"PartitionedCheckpoint: materialized ${rdd.getNumPartitions} " +
        s"partitions, declared $n — refusing to stamp wrong metadata")
    // Verify the finalized physical plan itself claims the declared
    // hash partitioning (AQE has finalized after the job above).
    val physical = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    if (!provedEmpty) physical.outputPartitioning match {
      case h: HashPartitioning
        if h.numPartitions == n &&
          h.expressions.length == keys.length &&
          h.expressions.zip(keys).forall {
            case (a: Attribute, k) => a.name == k
            case _ => false
          } => ()
      case other => throw new IllegalStateException(
        s"PartitionedCheckpoint: physical plan partitioning $other " +
          s"does not match declared HashPartitioning($keys, $n) — " +
          "the fused transform broke the layout; refusing to stamp")
    }
    val plan = LogicalRDD(
      qe.analyzed.output, rdd,
      HashPartitioning(keyAttrs, n),
      keyAttrs.map(a => SortOrder(a, Ascending)),
      isStreaming = false)(spark)
    (ClassicDataset.ofRows(spark, plan), census)
  }

  /** The one output attribute named `k` for each key; a missing or
    * duplicated name is an [[AmbiguousKeyException]]. */
  private def uniqueKeys(output: Seq[Attribute], keys: Seq[String],
                         which: String): Seq[Attribute] =
    keys.map { k =>
      output.filter(_.name == k) match {
        case Seq(a) => a
        case found => throw new AmbiguousKeyException(
          s"PartitionedCheckpoint: key column $k matches ${found.length} " +
            s"columns of the $which frame (${output.map(_.name)
              .mkString(", ")}); a key must name exactly one column")
      }
    }

  /** One task's census: rows arrive sorted by the key, so each key is
    * one run. Keys compare by their UnsafeRow bytes. */
  private def runLengths(it: Iterator[InternalRow],
                         keyRefs: Seq[(Int, DataType)])
      : (Map[Long, Long], Long) = {
    val proj = UnsafeProjection.create(
      keyRefs.map { case (i, t) => BoundReference(i, t, nullable = true) })
    val sizes = mutable.HashMap.empty[Long, Long]
    var nullKeys = 0L
    var prev: UnsafeRow = null
    var run = 0L
    def close(): Unit = {
      sizes(run) = sizes.getOrElse(run, 0L) + 1L
      if (prev.anyNull) nullKeys += 1
    }
    while (it.hasNext) {
      val key = proj(it.next())
      if (prev != null && key == prev) run += 1
      else {
        if (prev != null) close()
        prev = key.copy(); run = 1L
      }
    }
    if (prev != null) close()
    (sizes.toMap, nullKeys)
  }

  private def mergeCensus(parts: Array[(Map[Long, Long], Long)]): KeyCensus = {
    val sizes = mutable.HashMap.empty[Long, Long]
    parts.foreach(_._1.foreach { case (s, c) =>
      sizes(s) = sizes.getOrElse(s, 0L) + c
    })
    KeyCensus(sizes.toIndexedSeq.sortBy(_._1), parts.map(_._2).sum)
  }

  /** The key-column names a frame produced by [[byKey]]/[[byKeyWith]]
    * declares — Nil for anything else (including frames with a
    * projection on top, and frames in which a declared key name is
    * not unique). Lets a library operator (e.g. PageRank) skip
    * re-checkpointing an edge frame its caller already partitioned by
    * the right key. */
  def declaredKeys(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.outputPartitioning match {
        case h: HashPartitioning =>
          val names = h.expressions.collect { case a: Attribute => a.name }
          val unique = names.forall(k => l.output.count(_.name == k) == 1)
          if (names.length == h.expressions.length && unique) names else Nil
        case _ => Nil
      }
      case _ => Nil
    }
}
