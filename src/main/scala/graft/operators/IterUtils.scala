package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Helpers for iterative driver loops over eagerly localCheckpoint'd
  * DataFrames (connected components, PageRank, BPE training).
  *
  * Each round of such a loop checkpoints its new iterate; the previous
  * round's blocks are dead the moment the new one is materialized, but
  * nothing frees them until the ContextCleaner notices the RDD is
  * unreferenced — GC-timing-dependent, so a 100-iteration production run
  * can hold O(rounds) block sets hostage. These helpers release the blocks
  * deterministically.
  */
private[graft] object IterUtils {

  /** Drop the persisted blocks behind an eagerly `localCheckpoint()`'d
    * frame. Only call this on frames produced DIRECTLY by
    * `df.localCheckpoint()` (whose analyzed plan is the single
    * `LogicalRDD` leaf holding the persisted RDD), and only once every
    * downstream consumer has either materialized its own checkpoint or
    * finished its action — after this the frame can no longer be
    * recomputed. Non-blocking: the executors free blocks asynchronously.
    */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}

/** Periodic checkpoint discipline for CHAIN-shaped fixed-round loops —
  * loops whose iterate is referenced exactly ONCE per round (PageRank,
  * Katz, TextRank), so the un-checkpointed lineage grows LINEARLY in
  * rounds, never doubles. Such loops don't need a materialization job
  * per round: plan depth and the failure domain are the only reasons to
  * cut the chain, so one checkpoint every `every` rounds (and on the
  * final round, so the caller may release the loop-invariant relations)
  * bounds both while deleting the per-round job launch + block-store
  * write/read of the eager-per-round form. NOT for loops that read the
  * iterate twice per round (label propagation's restore join, BFS's
  * visited union, eigenvector's normalization) — there the per-round
  * checkpoint is what stops the plan doubling. */
private[graft] final class ChainCheckpointer(every: Int = 8) {
  private var live: Dataset[_] = null

  /** Feed the round-`i` iterate; returns what the next round should
    * build on — materialized on schedule (or when `last`), the raw
    * lazy chain otherwise. Superseded periodic checkpoints are released
    * the moment their successor is materialized. */
  def round[T](df: Dataset[T], i: Int, last: Boolean): Dataset[T] =
    if (i % every == 0 || last) {
      val ck = df.localCheckpoint()
      if (live != null) IterUtils.unpersistCheckpoint(live)
      live = ck
      ck
    } else df

  /** Release the surviving periodic checkpoint, if any — for callers
    * whose OWN downstream checkpoint is the final materializer (so the
    * loop never ran a `last = true` round). Only call once every
    * consumer of the chain has materialized. */
  def release(): Unit = {
    if (live != null) IterUtils.unpersistCheckpoint(live)
    live = null
  }
}

/** The one driver-side execution policy of the gated operators
  * ([[Dedup.duplicateClusters]], the [[GraphOps]] k-core / betweenness /
  * PageRank / label-propagation families, [[Bpe.train]],
  * [[TextRank.keywords]] and [[Incremental.incrementalComponents]]' quotient),
  * plus the Spark-semantics replicas their in-memory loops share.
  *
  * The gate: a loop-invariant relation of at most [[MaxRows]] rows is
  * collected once and the whole loop runs in memory, replicating the
  * distributed arithmetic; above it the distributed loop runs. A
  * constant, not a setting: no caller has ever needed another value.
  * [[distributedOnly]] shuts every gate for a scope, so a spec or a
  * differential run can exercise the distributed branch on small inputs.
  */
private[graft] object DriverGate {

  /** Row limit at or under which a gated relation is collected. */
  val MaxRows: Long = 1L << 20

  private val forced = new scala.util.DynamicVariable(false)

  /** Runs `body` with every gate shut: each gated operator called inside
    * the scope on this thread, nested calls included, takes its
    * distributed branch. */
  def distributedOnly[T](body: => T): T = forced.withValue(true)(body)

  /** Lazily checkpoints `ds` and counts it — the gate and the
    * materializing action in one job. At or under the gate the frozen
    * blocks are collected and released: `Right(rows)`. Above it (or
    * inside [[distributedOnly]]) the caller gets `Left(checkpoint)`,
    * materialized, and owns its release. */
  def collect[T](ds: Dataset[T]): Either[Dataset[T], Array[T]] = {
    val ck = ds.localCheckpoint(eager = false)
    val n = ck.count()
    if (forced.value || n > MaxRows) Left(ck)
    else {
      val rows = ck.collect()
      IterUtils.unpersistCheckpoint(ck)
      Right(rows)
    }
  }

  /** [[collect]] for callers that rebuild from their own input above the
    * gate: the checkpoint is released and `None` returned. */
  def collectOrRelease[T](ds: Dataset[T]): Option[Array[T]] =
    collect(ds) match {
      case Right(rows) => Some(rows)
      case Left(ck) => IterUtils.unpersistCheckpoint(ck); None
    }

  /** Spark's string SortOrder: byte-wise UTF-8, i.e. code-point order —
    * NOT String.compareTo, whose UTF-16 code-unit order diverges for
    * supplementary characters. */
  def utf8Compare(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Driver-side total order matching Spark's SortOrder for the id types
    * the gated loops support: longs/ints natural, strings by
    * [[utf8Compare]]. None = unsupported type, stay distributed. */
  def idOrdering(dt: DataType): Option[Ordering[Any]] = dt match {
    case LongType => Some(Ordering.by((v: Any) => v.asInstanceOf[Long]))
    case IntegerType => Some(Ordering.by((v: Any) => v.asInstanceOf[Int]))
    case StringType => Some(new Ordering[Any] {
      def compare(a: Any, b: Any): Int =
        utf8Compare(a.asInstanceOf[String], b.asInstanceOf[String])
    })
    case _ => None
  }

  /** Spark's Round(x, 0) on a double, exactly: decimal HALF_UP over the
    * canonical Double.toString representation (Catalyst RoundBase's
    * DoubleType branch). */
  def sparkRound(x: Double): Double =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** (endpoint, component label) for each distinct endpoint of `edges`,
    * in first-seen order — [[LongUnionFind]] over the whole edge list. */
  def componentLabels(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val uf = new LongUnionFind
    edges.foreach { case (a, b) => uf.union(a, b) }
    edges.flatMap(e => Array(e._1, e._2)).distinct.map(x => (x, uf.find(x)))
  }

  /** Path-compressed union-find over long ids, union by MIN root: every
    * root is the smallest member of its set, i.e. exactly the canonical
    * label min-label propagation converges to. */
  final class LongUnionFind {
    private val parent = scala.collection.mutable.HashMap.empty[Long, Long]

    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent(c); parent(c) = r; c = nxt
      }
      r
    }

    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
  }
}
