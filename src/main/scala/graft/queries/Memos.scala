package graft.queries

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

/** Lifecycle registry for the battery's persisted intermediates.
  *
  * The shared memoized frames (GeoQueries staged/mart_core/index_core,
  * DedupQueries LSH candidates / IVF model) exist so that queries that
  * genuinely share an expensive computation pay for it once. Left alone,
  * though, the persisted blocks live until the JVM exits — and a
  * 120-query run accumulates them as heap pressure that slows UNRELATED
  * queries late in the battery (the round-5 driver gate flagged nine
  * such collateral regressions).
  *
  * The fix is declarative: each memo registers its static consumer set
  * (the query names that read it) and a release thunk. The bench loop
  * tells the registry the battery order up front and reports each query
  * as it finishes; the moment no REMAINING query is a consumer of a
  * memo, its release thunk runs (drop the stored value, then free it).
  * This is order-independent — under a shuffled battery the release
  * simply moves to wherever that memo's last consumer landed — and
  * correctness-safe by construction: a memo released too early (e.g. a
  * consumer missing from the declared set) just rebuilds on next access.
  *
  * A shared memo is one [[shared]] call: the registry owns the value
  * map, builds each key once, re-tracks the value on every access (the
  * value is its own token) and, on release, drops the map entry before
  * the memo's `free` runs. [[track]] alone is for per-query frames the
  * registry should free but no other query reads.
  *
  * Outside the bench loop (Verify, tests, library use) `begin` is never
  * called and the registry is inert: memos persist for the JVM lifetime
  * exactly as before.
  */
object Memos {

  private final case class Entry(consumers: Set[String], release: () => Unit,
      token: AnyRef)

  private val entries = TrieMap[String, Entry]()
  // None = not in a battery run (registry inert). Some(set) = queries
  // still to run in this battery.
  @volatile private var remaining: Option[Set[String]] = None

  // Consumer sets of every memo key EVER tracked this JVM — kept
  // across release/endAll (release clears `entries`, never this).
  // The bench's deferred retry pass reads it to decide which deferred
  // entries are memo-backed and which module's prewarm rebuilds their
  // memos (r16 Next #2). Keys are namespaced "<module>:<layer>:<dir>".
  private val history = TrieMap[String, Set[String]]()

  /** Union of consumer query names across all memo keys starting with
    * `prefix` that were tracked at any point this JVM. */
  def consumersSeen(prefix: String): Set[String] =
    history.iterator.collect {
      case (k, c) if k.startsWith(prefix) => c
    }.flatten.toSet

  // Values of the shared memos, by memo key (see `shared`). Builds run
  // under `buildLock`, not the registry's monitor: a build runs Spark
  // jobs, and a nested build (a memo built from another) re-enters it.
  private val values = TrieMap[String, AnyRef]()
  private val buildLock = new Object

  /** The shared memo under `key` ("<module>:<layer>:<dir>"): `build`
    * runs once, and every later access returns the stored value until
    * it is released. Each access re-tracks the value with itself as the
    * token, so a same-value re-access releases nothing. The release
    * removes the map entry, then runs `free` on the value, so the next
    * access rebuilds. A late registration (no consumer left to run)
    * therefore frees the value at once: this access still returns it,
    * and a later access builds a new one rather than reusing the freed
    * value. */
  def shared[T <: AnyRef](key: String, consumers: Set[String])(build: => T)(
      free: T => Unit): T = {
    val v = values.getOrElse(key,
      buildLock.synchronized(values.getOrElseUpdate(key, build)))
      .asInstanceOf[T]
    track(key, consumers, v) { () => values.remove(key, v); free(v) }
    v
  }

  /** Register (or re-register, after a rebuild) a live memo. `consumers`
    * are query names as they appear in SparkEntry.queries. The release
    * thunk frees the resource ([[shared]] passes one that also drops
    * the stored value, so the next access rebuilds).
    *
    * `token` identifies the underlying resource (pass the persisted
    * DataFrame). Re-registering the SAME key with the SAME token is the
    * memoized-caller idempotent path (a [[shared]] access returned the
    * stored value) — the entry is refreshed, nothing released.
    * Re-registering with a DIFFERENT (or no) token means the caller
    * built NEW persisted state under this key (e.g. a bench rep
    * re-invoking a query builder): the superseded entry's release thunk
    * runs first, so the previous rep's frames never leak for the rest
    * of the battery. */
  def track(key: String, consumers: Set[String], token: AnyRef = null)(
      release: () => Unit): Unit =
    synchronized {
      history.put(key, consumers)
      entries.get(key).foreach { old =>
        val same = (token ne null) && (old.token ne null) && (old.token eq token)
        if (!same) runRelease(key, old)
      }
      entries.put(key, Entry(consumers, release, token))
      // late registration: if the battery has already passed every
      // consumer (a non-battery caller built the memo mid-run), release
      // immediately rather than leaking it
      sweep()
    }

  /** Release thunks that threw (non-fatally) this JVM. The entry is
    * dropped either way, so a failed release may leave its blocks
    * persisted until the JVM exits; Bench reports the count at the end
    * of the run. */
  private val failures = new AtomicLong()

  def releaseFailures: Long = failures.get()

  // A failing release must not stop the sweep (the other dead memos
  // still release) and must not hide: the key and message go to
  // stderr. Fatal errors (OOM, linkage) propagate.
  private def runRelease(key: String, e: Entry): Unit =
    try e.release()
    catch {
      case NonFatal(t) =>
        failures.incrementAndGet()
        System.err.println(s"[memos] release of $key failed: ${t.getMessage}")
    }

  /** Start a battery run over exactly these query names. */
  def begin(battery: Seq[String]): Unit = synchronized {
    remaining = Some(battery.toSet)
  }

  /** Report a finished query; returns true if any memo was released
    * (callers may want to System.gc() so Spark's ContextCleaner drops
    * the now-unreferenced broadcasts too). */
  def afterQuery(name: String): Boolean = synchronized {
    remaining match {
      case None => false
      case Some(r) =>
        remaining = Some(r - name)
        sweep()
    }
  }

  /** End the battery run: release everything still tracked. */
  def endAll(): Unit = synchronized {
    remaining = Some(Set.empty)
    sweep()
    remaining = None
  }

  private def sweep(): Boolean = remaining match {
    case None => false
    case Some(r) =>
      val dead = entries.filter { case (_, e) => e.consumers.forall(!r(_)) }
      dead.foreach { case (k, e) =>
        entries.remove(k)
        runRelease(k, e)
      }
      dead.nonEmpty
  }
}
