package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the battery's memo lifecycle registry — until now
  * it was exercised only implicitly through Bench runs, and round 9's
  * q176 bug (a memo released one query early because its consumer set
  * was incomplete) is exactly the class this pins. */
class MemosSpec extends AnyFunSuite {

  private def fresh(): Unit = Memos.endAll()

  test("memo survives until its LAST consumer, then releases exactly once") {
    fresh()
    var released = 0
    val token = new Object
    Memos.begin(Seq("qA", "qB", "qC"))
    Memos.track("m1", Set("qA", "qC"), token) { () => released += 1 }
    Memos.afterQuery("qA")
    assert(released == 0, "qC still pending — must not release")
    Memos.afterQuery("qB")
    assert(released == 0)
    Memos.afterQuery("qC")
    assert(released == 1, "last consumer done — must release")
    Memos.endAll()
    assert(released == 1, "endAll must not double-release")
  }

  test("re-registering with the SAME token is idempotent; a NEW token releases the old resource") {
    fresh()
    var releasedOld = 0
    var releasedNew = 0
    val t1 = new Object
    val t2 = new Object
    Memos.begin(Seq("qA", "qB"))
    Memos.track("m", Set("qB"), t1) { () => releasedOld += 1 }
    Memos.track("m", Set("qB"), t1) { () => releasedOld += 1 }
    assert(releasedOld == 0, "same-token re-track must not release")
    Memos.track("m", Set("qB"), t2) { () => releasedNew += 1 }
    assert(releasedOld == 1, "replaced entry's resources must release")
    Memos.afterQuery("qA")
    assert(releasedNew == 0)
    Memos.afterQuery("qB")
    assert(releasedNew == 1)
    Memos.endAll()
  }

  test("late registration after every consumer already ran releases immediately") {
    fresh()
    var released = 0
    Memos.begin(Seq("qA", "qB"))
    Memos.afterQuery("qA")
    Memos.track("late", Set("qA"), new Object) { () => released += 1 }
    assert(released == 1, "no remaining consumer — must not leak")
    Memos.endAll()
  }

  test("outside a battery the registry is inert until endAll") {
    fresh()
    var released = 0
    Memos.track("inert", Set("qZ"), new Object) { () => released += 1 }
    assert(released == 0, "no begin() — memos persist for the JVM")
    Memos.endAll()
    assert(released == 1)
  }

  test("a throwing release is counted, and the other dead memos of the " +
      "same sweep still release") {
    fresh()
    val before = Memos.releaseFailures
    var released = 0
    Memos.begin(Seq("qA", "qB"))
    Memos.track("bad", Set("qA"), new Object) { () =>
      throw new IllegalStateException("unpersist failed")
    }
    Memos.track("good1", Set("qA"), new Object) { () => released += 1 }
    Memos.track("good2", Set("qA"), new Object) { () => released += 1 }
    Memos.afterQuery("qA")
    assert(Memos.releaseFailures == before + 1)
    assert(released == 2, "a failing release must not stop the sweep")
    Memos.endAll()
  }

  test("a throwing release of a superseded entry is counted") {
    fresh()
    val before = Memos.releaseFailures
    var releasedNew = 0
    Memos.begin(Seq("qA"))
    Memos.track("m", Set("qA"), new Object) { () =>
      throw new RuntimeException("unpersist failed")
    }
    Memos.track("m", Set("qA"), new Object) { () => releasedNew += 1 }
    assert(Memos.releaseFailures == before + 1)
    Memos.afterQuery("qA")
    assert(releasedNew == 1, "the replacement still tracks and releases")
    Memos.endAll()
  }

  test("a fatal error in a release propagates") {
    fresh()
    val before = Memos.releaseFailures
    Memos.begin(Seq("qA"))
    Memos.track("oom", Set("qA"), new Object) { () =>
      throw new OutOfMemoryError("simulated")
    }
    intercept[OutOfMemoryError](Memos.afterQuery("qA"))
    assert(Memos.releaseFailures == before, "fatal errors are not counted")
    Memos.endAll()
  }

  /** A shared memo whose builds and frees are counted; every access
    * goes through [[Memos.shared]] with the same key and consumers. */
  private final class Counted(key: String, consumers: Set[String]) {
    var builds = 0
    val freed = scala.collection.mutable.ArrayBuffer[AnyRef]()
    def access(): AnyRef =
      Memos.shared(key, consumers) { builds += 1; new Object }(freed += _)
  }

  test("shared builds once across repeated accesses") {
    fresh()
    val m = new Counted("spec:once:d", Set("qA"))
    val v = m.access()
    assert(Seq.fill(3)(m.access()).forall(_ eq v))
    assert(m.builds == 1)
    Memos.endAll()
    assert(m.freed == Seq(v))
  }

  test("a same-value shared re-access releases nothing") {
    fresh()
    val m = new Counted("spec:same:d", Set("qB"))
    Memos.begin(Seq("qA", "qB"))
    val v = m.access()
    Memos.afterQuery("qA")
    assert(m.access() eq v)
    assert(m.freed.isEmpty, "re-tracking the stored value must not free it")
    Memos.afterQuery("qB")
    assert(m.freed == Seq(v), "last consumer done — must free once")
    Memos.endAll()
    assert(m.freed == Seq(v))
  }

  test("after a shared memo is released, the next access rebuilds") {
    fresh()
    val m = new Counted("spec:rebuild:d", Set("qA"))
    Memos.begin(Seq("qA"))
    val v1 = m.access()
    Memos.endAll()
    assert(m.freed == Seq(v1))
    val v2 = m.access()
    assert(m.builds == 2 && (v2 ne v1))
    Memos.endAll()
    assert(m.freed == Seq(v1, v2))
  }

  test("a late shared registration frees the value, and a later access " +
      "rebuilds instead of returning the freed value") {
    fresh()
    val m = new Counted("spec:late:d", Set("qA"))
    Memos.begin(Seq("qA", "qB"))
    Memos.afterQuery("qA")
    val v1 = m.access()
    assert(m.freed == Seq(v1), "no consumer left — must free at once")
    val v2 = m.access()
    assert(m.builds == 2 && (v2 ne v1), "the freed value was reused")
    assert(m.freed == Seq(v1, v2))
    Memos.endAll()
    assert(m.freed == Seq(v1, v2))
  }
}
