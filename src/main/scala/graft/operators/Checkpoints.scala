package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative loops (MassFlow's Pregel rounds,
  * Dedup's star-contraction), with a choice the single-JVM default
  * cannot make for the caller:
  *
  *  - `None` → `localCheckpoint` (eager): blocks live on executor local
  *    storage. Fast, no filesystem dependency — but on a REAL cluster an
  *    executor lost mid-loop takes its blocks with it and the job dies
  *    (local checkpoints sever lineage, so there is nothing to recompute
  *    from). Correct for local[N] and for clusters where a rare loop
  *    retry is acceptable.
  *  - `Some(dir)` → reliable `checkpoint()` under `dir` (HDFS/S3/DBFS on
  *    a cluster): per-round state is persisted to fault-tolerant
  *    storage, so executor loss costs one round's recompute, never the
  *    job. The price is a filesystem round-trip per iteration — pay it
  *    when the loop is long or the cluster is preemptible.
  *
  * Old rounds' checkpoint data is reclaimed by the ContextCleaner on GC
  * (reliable checkpoints additionally honor
  * `spark.cleaner.referenceTracking.cleanCheckpoints`).
  */
object Checkpoints {
  /** Audit hook (PlanFingerprints --aqe): when set, called with each
    * truncated DataFrame AFTER its eager checkpoint executed — at that
    * point the DataFrame's `queryExecution.executedPlan` is the FINAL
    * adaptive plan, so iteration-BODY shapes of checkpointed loops
    * (kcore/bfs/sssp/mass-flow rounds, star-contraction steps) can be
    * fingerprinted without re-running the loop. The r14 AQE pin only saw
    * these entries' final checkpointed read (`rddscan=1 shuffle=1
    * sort=1`) — the runtime guard never reached the loop body where a
    * strategy decay would actually cost. Never set in production paths;
    * reset to the no-op in a finally.
    */
  @volatile private[graft] var onTruncate: DataFrame => Unit = _ => ()

  // setCheckpointDir is NOT idempotent: each call mkdirs a fresh UUID
  // subdirectory under the given path and points the context at it, so
  // calling it per round would scatter a 16-round loop across 16
  // directories and pay a remote mkdirs RPC each time. Set once per
  // (context, dir) — the stored form is dir/<uuid>, so it cannot be
  // compared against the caller's raw path directly.
  private val configured =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.SparkContext, String]()
  // read/write lock per context: concurrent truncates with the SAME dir
  // share the read side (eager checkpoints run as parallel jobs), while a
  // dir CHANGE takes the write side — so one loop's df.checkpoint() can
  // never land under a dir another thread swapped in between the check
  // and the checkpoint (check-then-act on shared SparkContext state).
  private val locks = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, java.util.concurrent.locks.ReentrantReadWriteLock]()

  /** The session-level checkpoint-dir choice (`spark.graft.checkpointDir`,
    * unset/empty → local) for LIBRARY operators whose signatures carry no
    * `checkpointDir` parameter — the r17 shared-shingle materializations
    * in Dedup/Decontaminate hardcoded `.localCheckpoint()`, which on a
    * real cluster pins O(corpus) shingle rows in executor-local storage
    * with no fault tolerance (an executor lost mid-query kills the job —
    * severed lineage has nothing to recompute from). Setting the conf
    * routes every such materialization through reliable `checkpoint()`
    * under the dir, same trade as the loop operators' explicit parameter
    * (r18, VERDICT item 6).
    */
  def sessionDir(spark: org.apache.spark.sql.SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.checkpointDir").filter(_.nonEmpty)

  /** [[truncate]] with the fault model chosen by the session conf. */
  def truncateSession(df: DataFrame): DataFrame =
    truncate(df, sessionDir(df.sparkSession))

  /** [[truncateSession]] plus a parallelism FLOOR on the materialized
    * state (r18, guide §2.5/§2.6): AQE coalesces the stage feeding an
    * eager checkpoint to the advisory partition size, so a small shared
    * table (the dedup shingle materialization, a graph's oriented edge
    * set) lands in 3–6 blocks — and every downstream heavy consumer
    * (per-edge adjacency intersects, signature/verify passes) inherits a
    * 3–6-task stage on a 32-core session (measured: graph_triangles'
    * intersect probe ran 3 tasks for 6.1 s of task time, a 2.2 s
    * straggler stage). When the checkpoint materialized NARROWER than
    * the session's spread width, re-distribute the checkpointed read by
    * a hash of `keys` — one cheap exchange of the already-small state
    * (reused across all consumer branches of the query), after which
    * heavy consumers run width-way.
    *
    * Scale-adaptive by construction, like `Tables.spread`: the gate
    * reads the ACTUAL materialized partition count, so production-scale
    * state (whose post-AQE stage has ≥ width partitions because the data
    * is large) is returned untouched and the corpus is never reshuffled.
    * `keys` must be a deterministic hash key (never rand-derived); all
    * call sites aggregate order-insensitively downstream.
    */
  def truncateSessionWide(keys: Seq[String])(df: DataFrame): DataFrame =
    widen(truncateSession(df), keys)

  /** The width floor of [[truncateSessionWide]] alone — for call sites
    * that need the raw checkpoint too (e.g. a sizing `count()` that
    * should not pay the exchange). */
  def widen(out: DataFrame, keys: Seq[String]): DataFrame = {
    val width = graft.Tables.spreadWidthFor(out.sparkSession)
    if (width <= 1) out
    else if (out.queryExecution.toRdd.getNumPartitions >= width) out
    else out.repartition(width, keys.map(org.apache.spark.sql.functions.col): _*)
  }

  def truncate(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        withDirConfigured(df, dir) {
          val out = df.checkpoint(eager = true)
          onTruncate(df)
          out
        }
      case None =>
        val out = df.localCheckpoint(eager = true)
        onTruncate(df)
        out
    }

  private def withDirConfigured[A](df: DataFrame, dir: String)(body: => A): A = {
    val sc = df.sparkSession.sparkContext
    val lock = locks.computeIfAbsent(sc,
      _ => new java.util.concurrent.locks.ReentrantReadWriteLock())
    val read = lock.readLock()
    read.lock()
    if (configured.get(sc) != dir) {
      // upgrade: drop read, take write, re-check, set, downgrade.
      // record AFTER the set succeeds: caching first would latch a
      // failed configuration (transient FS error on the first call)
      // and every later call would skip the retry, failing forever
      read.unlock()
      val write = lock.writeLock()
      write.lock()
      try {
        if (configured.get(sc) != dir) {
          sc.setCheckpointDir(dir)
          configured.put(sc, dir)
        }
        read.lock() // downgrade before releasing write
      } finally write.unlock()
    }
    try body finally read.unlock()
  }

  /** [[truncate]] fused with a per-round statistic computed IN the
    * materialization job (r18, guide §1.2/§2.4 applied to the driver's
    * job count): an iterative loop's fixpoint test — `count()` or a
    * set-fingerprint aggregate on the just-checkpointed state — was a
    * SECOND job per round that re-read the blocks the checkpoint had just
    * written. Folding the statistic into the checkpoint's own pass halves
    * the per-round job count (the bench-scale loop cost is job latency,
    * and on a cluster it is one fewer read of O(state) blocks per round).
    * The truncation semantics and the reliable/local fault-model choice
    * are identical to [[truncate]].
    */
  private[graft] def truncateWithStats[S: scala.reflect.ClassTag](
      df: DataFrame, checkpointDir: Option[String], zero: S,
      statsOfPartition: Iterator[org.apache.spark.sql.catalyst.InternalRow] => S,
      merge: (S, S) => S): (DataFrame, S) = {
    def run(reliable: Boolean): (DataFrame, S) = {
      val r = org.apache.spark.sql.GraftDatasetInternals
        .truncateWithStats(df, reliable, zero, statsOfPartition, merge)
      onTruncate(df)
      r
    }
    checkpointDir match {
      case Some(dir) => withDirConfigured(df, dir)(run(reliable = true))
      case None      => run(reliable = false)
    }
  }

  /** [[truncateWithStats]] counting the rows that satisfy `pred`
    * (`null` predicate = count everything). */
  private[graft] def truncateCounting(
      df: DataFrame, checkpointDir: Option[String],
      pred: org.apache.spark.sql.catalyst.InternalRow => Boolean = null)
      : (DataFrame, Long) = {
    val p = pred
    truncateWithStats[Long](df, checkpointDir, 0L,
      it => {
        var n = 0L
        if (p == null) while (it.hasNext) { it.next(); n += 1 }
        else while (it.hasNext) { if (p(it.next())) n += 1 }
        n
      },
      _ + _)
  }

  /** [[truncateWithStats]] computing an order-independent SET fingerprint
    * (count, xor of a 64-bit row hash) over the first two BIGINT columns —
    * the star-contraction fixpoint test. The hash need not match any SQL
    * function: it is only ever compared against the previous round's
    * fingerprint computed by this same code, so any deterministic,
    * well-mixed 64-bit hash gives the same no-false-fixpoint property the
    * old `bit_xor(xxhash64(u, v))` aggregate had.
    */
  private[graft] def truncateFingerprint(
      df: DataFrame, checkpointDir: Option[String]): (DataFrame, (Long, Long)) =
    truncateWithStats[(Long, Long)](df, checkpointDir, (0L, 0L),
      it => {
        var n = 0L
        var x = 0L
        while (it.hasNext) {
          val r = it.next()
          n += 1
          x ^= rowHash64(r.getLong(0), r.getLong(1))
        }
        (n, x)
      },
      (a, b) => (a._1 + b._1, a._2 ^ b._2))

  /** SplitMix64-style avalanche of a (u, v) pair into one 64-bit value;
    * rotation keeps the combine asymmetric so (u, v) and (v, u) differ. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def rowHash64(u: Long, v: Long): Long =
    mix64(mix64(u) ^ java.lang.Long.rotateLeft(mix64(v), 17))
}
