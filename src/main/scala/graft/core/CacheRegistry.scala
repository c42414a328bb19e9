package graft.core

import java.util.concurrent.{CompletableFuture, CompletionException}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Registry for operator-internal persisted frames.
  *
  * Operators persist subtrees that are consumed more than once within one
  * query (shingle tables, LSH candidate sets, label-propagation rounds) —
  * required for correctness of cost: Catalyst re-executes the whole subtree
  * per consumer otherwise. The persist is right *per query*, but a
  * long-lived JVM running a whole suite accumulates storage across queries,
  * causing eviction churn and memory pressure (round 1's bench death).
  *
  * Two release mechanisms, safe to combine:
  *
  *   - [[scoped]] — the preferred form. The harness (and any library
  *     caller) wraps one query's build-and-consume in `scoped { ... }`;
  *     every frame the calling thread registers inside the block is
  *     unpersisted when the block exits. Scopes are per-thread, so two
  *     queries in flight on different threads cannot release each other's
  *     frames, and a global [[drain]] issued elsewhere never touches an
  *     open scope's frames.
  *   - [[drain]] — the legacy global release. Only frames registered
  *     OUTSIDE any scope land in the global queue; `drain()` releases
  *     exactly those. Callers that never drain and never scope leak
  *     storage — that is the documented cost of ignoring both.
  *
  * Frames registered on a thread the caller spawned inside `scoped` (not
  * the scope's own thread) fall through to the global queue: scope
  * membership is thread-confined by design, matching how these operators
  * build their plans (driver-side, single-threaded per query).
  *
  * Cross-query artifacts (the star-schema fact, the staged SCD2 diff, pair
  * and fingerprint indexes, corpus counts) live in a separate [[memo]]
  * keyed by (session, dir, artifact key): built once per key even when
  * several threads ask at once, shared across queries and released by key
  * ([[release]]) or per session ([[releaseAll]]), never by a query's scope
  * or [[drain]].
  */
object CacheRegistry {

  private val global = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]

  /** A memoized artifact and the other artifact keys its build reached
    * (recorded only while a [[recording]] was open during the build). */
  private final case class Entry(value: Any, reaches: Set[String])

  /** One cell per artifact key: completed by the build of the first caller
    * that missed, awaited by every other caller. */
  private val artifacts =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), CompletableFuture[Entry]]

  private val recorders = new ThreadLocal[List[mutable.Set[String]]] {
    override def initialValue(): List[mutable.Set[String]] = Nil
  }

  private val scopes = new ThreadLocal[List[ArrayBuffer[() => Unit]]] {
    override def initialValue(): List[ArrayBuffer[() => Unit]] = Nil
  }

  private def register(release: () => Unit): Unit =
    scopes.get() match {
      case head :: _ => head += release
      case Nil       => global.add(release)
    }

  /** Persist `ds` and register it for release — with the calling thread's
    * innermost open [[scoped]] block if one is active, else globally for a
    * later [[drain]]. */
  def persist[T](ds: Dataset[T],
                 level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    ds.persist(level)
    register(() => { ds.unpersist(); () })
    ds
  }

  /** Eager localCheckpoint with the SAME release contract as [[persist]]:
    * materialize + lineage cut in one job, and the checkpointed blocks are
    * unpersisted at scope exit / [[drain]] instead of lingering until the
    * ContextCleaner GCs them — iterative operators (label propagation)
    * checkpoint once per round, so deterministic release is the difference
    * between flat storage and rounds × labels of zombie blocks. */
  def checkpoint(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (ck, release) = org.apache.spark.sql.graft.CheckpointOps.eagerLocal(df)
    register(release)
    ck
  }

  /** Run `body` in a fresh cache scope: frames the calling thread registers
    * inside it are unpersisted when the block exits (normally or not).
    * Nests; inner scopes release first. Unpersisting an already-released
    * frame is a no-op, so operators that release eagerly mid-query can
    * still register every frame. */
  def scoped[A](body: => A): A = {
    val buf = ArrayBuffer.empty[() => Unit]
    scopes.set(buf :: scopes.get())
    try body
    finally {
      scopes.set(scopes.get().tail)
      buf.foreach(_.apply())
    }
  }

  /** Release every globally-registered frame (frames inside open scopes
    * are untouched); returns how many were released. */
  def drain(): Int = {
    var n = 0
    var d = global.poll()
    while (d != null) {
      d()
      n += 1
      d = global.poll()
    }
    n
  }

  /** Globally-registered frames awaiting a [[drain]] (excludes open scopes). */
  def size: Int = global.size

  /** The artifact `key` over `dir` for session `s`: built once by `build`
    * and shared by every later caller until [[release]]d. A `build` that
    * should be persisted persists its own result. The first caller that
    * misses builds; callers on other threads that ask meanwhile wait for
    * that build and share its value, or its failure. A failed build leaves
    * no entry, so a later call builds again. Artifact builds reach each
    * other as a DAG, so no build waits on itself. While a [[recording]] is
    * open on the calling thread, every open recorder notes `key` and the
    * keys its build reached, whether it is built now or was built earlier
    * under a recording. */
  def memo[A](s: SparkSession, dir: String, key: String)(build: => A): A = {
    val k = (s, dir, key)
    val mine = new CompletableFuture[Entry]
    val entry = artifacts.putIfAbsent(k, mine) match {
      case Some(cell) => await(cell)
      case None =>
        try {
          val e =
            if (recorders.get().isEmpty) Entry(build, Set.empty)
            else {
              val (value, reaches) = recording(build)
              Entry(value, reaches)
            }
          mine.complete(e)
          e
        } catch { case t: Throwable =>
          artifacts.remove(k, mine)
          mine.completeExceptionally(t)
          throw t
        }
    }
    recorders.get().foreach { r => r += key; r ++= entry.reaches }
    entry.value.asInstanceOf[A]
  }

  /** The entry `cell` completes with, or the build's own failure. */
  private def await(cell: CompletableFuture[Entry]): Entry =
    try cell.join()
    catch { case e: CompletionException if e.getCause != null => throw e.getCause }

  /** Drop the artifact `key` over `dir`, unpersisting every Dataset it
    * holds (the value itself or the fields of a tuple). An artifact still
    * being built is released once its build ends. */
  def release(s: SparkSession, dir: String, key: String): Unit =
    artifacts.remove((s, dir, key)).foreach { cell =>
      scala.util.Try(await(cell)).foreach(e => unpersistAll(e.value))
    }

  /** [[release]] every artifact held for session `s`. */
  def releaseAll(s: SparkSession): Unit =
    artifacts.keys.filter(_._1 eq s).foreach { case (_, dir, key) => release(s, dir, key) }

  /** (dir, key) of every artifact held for session `s`. */
  def memoKeys(s: SparkSession): Set[(String, String)] =
    artifacts.keys.collect { case (k, dir, key) if k eq s => (dir, key) }.toSet

  /** Run `body` and return the artifact keys it reached through [[memo]] on
    * the calling thread, directly or through another artifact's build.
    * Nests; nothing is recorded outside a recording. */
  def recording[A](body: => A): (A, Set[String]) = {
    val reached = mutable.Set.empty[String]
    recorders.set(reached :: recorders.get())
    val value =
      try body
      finally recorders.set(recorders.get().tail)
    (value, reached.toSet)
  }

  private def unpersistAll(v: Any): Unit = v match {
    case d: Dataset[_] => d.unpersist(); ()
    case p: Product    => p.productIterator.foreach(unpersistAll)
    case _             => ()
  }
}
