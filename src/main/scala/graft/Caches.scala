package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** Lifecycle registry for per-query cached state (ADVICE.md r1: persisted
  * subplans and localCheckpoint RDDs were never released, so a multi-sf
  * Verify/Bench run grew storage memory without bound).
  *
  * Query builders register every `persist()` and `localCheckpoint()` here;
  * the harness (Verify/Bench) calls [[releaseAll]] after each query's final
  * action. Caches still do their job *within* a query — the three consumers
  * of a persisted subplan share one materialization — and Spark's
  * CacheManager plan-dedup still shares entries across queries that run
  * between two releases; release just bounds the lifetime to one harness
  * step. On a cluster the same pattern applies, with `unpersist` shrinking
  * executor storage memory instead of local heap.
  *
  * Scoping (ADVICE r2): the registry is THREAD-LOCAL — a query is built and
  * released on one thread, so one tenant's [[releaseAll]] can no longer
  * unpersist a concurrent tenant's in-flight caches on a shared session
  * (the multi-tenant shape OperatorsSpec's concurrency test advertises).
  * Library code that caches internally should use [[scoped]], which
  * releases exactly the entries registered inside the block and leaves the
  * caller's registrations alone.
  */
object Caches {
  private val live = new ThreadLocal[scala.collection.mutable.ArrayBuffer[() => Unit]] {
    override def initialValue(): scala.collection.mutable.ArrayBuffer[() => Unit] =
      scala.collection.mutable.ArrayBuffer.empty
  }
  // Global live-entry count across all threads — the observability hook for
  // the thread-local releaseAll contract (ADVICE r3). Bookkeeping lives at
  // the call sites that consume closures (releaseAll/scoped), not inside the
  // stored closure itself, so entries TRANSFERRED to the memo (see
  // [[memoize]]) can move from `total` to `memoOwned` without running —
  // keeping liveCount an unambiguous leak detector (ADVICE r10: memo-owned
  // entries used to pin `total` positive after every tenant released).
  private val total = new java.util.concurrent.atomic.AtomicInteger(0)
  // Entries owned by the session-scoped memo: legitimately live until
  // [[releaseMemos]], counted apart from per-query entries.
  private val memoOwned = new java.util.concurrent.atomic.AtomicInteger(0)

  private def register(release: () => Unit): Unit = {
    total.incrementAndGet()
    live.get += release
  }

  /** Run a stored release closure, swallowing non-fatal errors, and
    * decrement its owning counter exactly once. */
  private def runRelease(r: () => Unit, counter: java.util.concurrent.atomic.AtomicInteger): Unit =
    try r() catch { case scala.util.control.NonFatal(_) => () } finally counter.decrementAndGet()

  /** `df.persist()` + register for the next [[releaseAll]] on this thread. */
  def persist(df: DataFrame): DataFrame = {
    df.persist()
    register(() => { df.unpersist(false); () })
    df
  }

  /** [[persist]] at an explicit storage level — DISK_ONLY for frames whose
    * footprint is a multiple of the input (e.g. an exploded token stream):
    * spilling them through storage memory would evict caches that earn
    * their residency, while disk keeps the recompute-avoidance without the
    * memory bill. */
  def persist(df: DataFrame, level: org.apache.spark.storage.StorageLevel): DataFrame = {
    df.persist(level)
    register(() => { df.unpersist(false); () })
    df
  }

  /** Register an already-localCheckpoint()ed frame for release. */
  def trackCheckpoint(df: DataFrame): DataFrame = {
    register(() => releaseCheckpoint(df))
    df
  }

  /** Unpersist the RDD behind a localCheckpoint()ed frame. `localCheckpoint`
    * persists its materialized RDD (MEMORY_AND_DISK) with no public release
    * API; the RDD sits in the plan as a LogicalRDD leaf. No-op for other
    * plan shapes. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
      .foreach(_.unpersist(false))

  /** `df` collected to the driver once, as a LocalRelation-backed frame,
    * for a frame whose size a dictionary bounds (a codebook, a probe set, a
    * reduced series), never the corpus: throws above `maxRows`. A
    * `.scalar()` over the result, or a Filter or Project the optimizer folds
    * into the relation, runs on the driver with no job (a broadcast of it
    * still runs one small job, with no scan), where a checkpointed frame
    * pays its checkpoint job and a job per consumer; the corpus-scale plan
    * that PRODUCES the rows still runs distributed. No `limit`:
    * CollectLimit's incremental take adds jobs.
    *
    * The collect's jobs carry `label` (say `q282/coarse r1`) as their
    * `spark.job.description`; the caller's description is restored after,
    * and the job group is left alone. Nothing is registered: the rows live
    * in the plan, so there is nothing to release. */
  def bounded(df: DataFrame, maxRows: Int, label: String): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(boundedRows(df, maxRows, label): _*), df.schema)

  /** The rows behind [[bounded]], for callers that assemble a value from
    * them on the driver. */
  private[graft] def boundedRows(df: DataFrame, maxRows: Int, label: String): Array[Row] = {
    val sc = df.sparkSession.sparkContext
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    val rows = try df.collect() finally sc.setJobDescription(prior)
    if (rows.length > maxRows)
      throw new IllegalStateException(s"$label: ${rows.length} rows, bound $maxRows")
    rows
  }

  /** Run `f`, then release ONLY the cache entries `f` registered on this
    * thread — the self-cleaning wrapper for library entry points (e.g.
    * [[Pipelines.prepareCorpus]]) whose callers may hold their own live
    * caches. Safe because such entry points return either written-storage
    * reads or small results, never a plan over the released caches.
    *
    * Scope membership is tracked by entry IDENTITY (a snapshot of the
    * closures present at entry), not by a length mark: a `releaseAll()`
    * inside `f` followed by new registrations would desynchronize any
    * positional mark (ADVICE r3), whereas an identity snapshot is immune —
    * whatever survives in the buffer at exit and was NOT present at entry
    * was registered by `f` and is released here. Nested scopes compose for
    * the same reason. */
  def scoped[T](f: => T): T = {
    val buf = live.get
    val atEntry = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[() => Unit, java.lang.Boolean]())
    buf.foreach(atEntry.add)
    try f
    finally {
      val (callers, mine) = buf.partition(atEntry.contains)
      mine.reverseIterator.foreach(runRelease(_, total))
      buf.clear()
      buf ++= callers
    }
  }

  /** Release everything registered ON THE CALLING THREAD since the last
    * call.
    *
    * THREAD-LOCAL CONTRACT (public API, not just an implementation note):
    * a call from any other thread is a NO-OP for this thread's entries —
    * the price of the per-tenant scoping above. Each tenant must release
    * on the thread that built its query, as Verify/Bench/tests do. Code
    * that builds a plan on a pool/worker thread and releases on the main
    * thread silently leaks: watch [[liveCount]] (global, all threads) vs
    * [[liveCountHere]] (calling thread) to observe such leaks — a global
    * count that stays positive after every thread has released is the
    * signature. Safe to call while nothing is registered; tolerates
    * already-released entries. */
  def releaseAll(): Unit = {
    val buf = live.get
    buf.foreach(runRelease(_, total))
    buf.clear()
  }

  // ---- session-scoped trained-artifact memo (VERDICT r9 item 2) ----
  //
  // The tokenizer trainers (Text.bpeTrain / Text.unigramTrain) are pure
  // functions of (SparkContext, data dir) whose outputs are small
  // dictionary-sized frames, expensive to build (the EM/merge rounds) and
  // consumed by several queries (q181/q182/q195/q232 share BPE;
  // q231/q232/q247 share the unigram LM). Production pipelines train such
  // artifacts ONCE and reuse them; this memo gives the engine the same
  // contract: first caller builds, every later caller in the same session
  // and dir reuses the bit-identical frames (pinned by the determinism
  // sweeps — the trainers are exact-integer throughout). Per-query
  // self-containment is preserved: nothing changes in any query's RESULT,
  // only in who pays the training cost.
  //
  // Ownership: everything the build registers on the per-query registry
  // (its localCheckpoints) is TRANSFERRED to the memo's own release list,
  // so the harness's releaseAll() after the first consumer cannot
  // unpersist frames a later consumer will reuse (a localCheckpoint's
  // lineage is truncated — releasing it would make the frame
  // unrecomputable, the round-8 failure shape). [[releaseMemos]] frees
  // them at session end (Verify/Bench call it before spark.stop()).
  private val memo = new java.util.HashMap[String, AnyRef]()
  private val memoReleases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  /** Build-once-per-(session, tag, dir) memo. The global lock serializes
    * concurrent builders of ANY key — acceptable: builds are rare (a
    * handful per session) and the alternative (per-key locks) risks
    * deadlock for zero measured win. Keyed by applicationId so frames
    * never outlive the SparkContext that owns their checkpointed RDDs. */
  def memoize[T <: AnyRef](s: org.apache.spark.sql.SparkSession, tag: String,
      dir: String)(build: => T): T = memo.synchronized {
    val key = s.sparkContext.applicationId + "\u0000" + tag + "\u0000" + dir
    val hit = memo.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val buf = live.get
      val atEntry = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[() => Unit, java.lang.Boolean]())
      buf.foreach(atEntry.add)
      val v = build
      val (callers, mine) = buf.partition(atEntry.contains)
      buf.clear()
      buf ++= callers
      // Transfer ownership: these entries are no longer per-query live state
      // (total) but memo-owned session state (memoOwned), so liveCount drops
      // back to the callers' entries and stays a clean leak detector.
      total.addAndGet(-mine.length)
      memoOwned.addAndGet(mine.length)
      memoReleases ++= mine
      memo.put(key, v)
      v
    }
  }

  /** Release every memoized artifact's caches and forget the memo table.
    * Harness mains call this once before stopping the session; tests that
    * stop-and-recreate sessions may call it to drop stale entries early
    * (stale entries are otherwise inert — their release closures tolerate
    * a stopped context). */
  def releaseMemos(): Unit = memo.synchronized {
    memoReleases.foreach(runRelease(_, memoOwned))
    memoReleases.clear()
    memo.clear()
  }

  /** Live registered entries on the CALLING thread (not yet released). */
  def liveCountHere: Int = live.get.length

  /** Live PER-QUERY entries across ALL threads — a leak detector for the
    * thread-local [[releaseAll]] contract: if this stays positive after
    * every tenant released, some thread registered entries that no one
    * can release anymore (e.g. plan built on a worker thread, release
    * called on main). Memo-owned entries do NOT count here — they live in
    * [[memoCount]] until [[releaseMemos]] (ADVICE r10). */
  def liveCount: Int = total.get()

  /** Entries owned by the session-scoped memo — legitimately live until
    * [[releaseMemos]]; nonzero here is reuse, not a leak. */
  def memoCount: Int = memoOwned.get()
}
