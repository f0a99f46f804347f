package graft

import org.scalatest.funsuite.AnyFunSuite

/** Eviction mechanics of [[BoundedLruCache]] — the bound behind every
  * [[SessionCache]] that keeps the checkpoint caches (Similarity
  * quantizer, Dedup pairs) from pinning one block set per distinct key
  * forever. Release
  * is deferred by ONE eviction generation (the get-then-evicted race
  * cushion): generation g's evictees are released when generation g+1
  * evicts.
  */
class BoundedLruCacheSpec extends AnyFunSuite {

  private def cacheWithLog(max: Int) = {
    val released = scala.collection.mutable.ArrayBuffer[String]()
    (new BoundedLruCache[String, String](max, released += _), released)
  }

  test("inserting past the cap evicts the LRU; release lands one generation later") {
    val (c, released) = cacheWithLog(2)
    c.putIfAbsent("a", "va")
    c.putIfAbsent("b", "vb")
    assert(c.size == 2 && released.isEmpty)
    c.putIfAbsent("c", "vc")
    assert(c.size == 2)
    assert(c.get("a").isEmpty && c.get("b").contains("vb") && c.get("c").contains("vc"))
    // va is evicted but PARKED — a holder from a racing get() may still
    // be using it; the next eviction generation frees it
    assert(released.isEmpty, "evictee must be parked for one generation")
    c.putIfAbsent("d", "vd")
    assert(released.toSeq == Seq("va"), "previous generation released on the next")
  }

  test("get refreshes recency — the evictee is least-recently-USED") {
    val (c, released) = cacheWithLog(2)
    c.putIfAbsent("a", "va")
    c.putIfAbsent("b", "vb")
    c.get("a") // a is now more recent than b
    c.putIfAbsent("c", "vc")
    assert(c.get("a").contains("va") && c.get("b").isEmpty)
    c.putIfAbsent("d", "vd") // next generation: vb frees (a refreshed again by the get above)
    assert(released.contains("vb") && !released.contains("va"))
  }

  test("putIfAbsent on an existing key returns the incumbent, no eviction") {
    val (c, released) = cacheWithLog(2)
    c.putIfAbsent("a", "va")
    val winner = c.putIfAbsent("a", "LOSER")
    assert(winner == "va")
    assert(c.size == 1 && released.isEmpty)
  }

  test("removeIf releases only when asked, and drains the parked generation") {
    val (c, released) = cacheWithLog(2)
    c.putIfAbsent("s1-a", "v1")
    c.putIfAbsent("s1-b", "v2")
    c.putIfAbsent("s2-a", "v3") // evicts v1 into the parked generation
    assert(released.isEmpty)
    c.removeIf(_.startsWith("s1"), releaseRemoved = true)
    // v2 removed+released; parked v1 drained with it (session-end must
    // not leave orphaned parked blocks)
    assert(released.toSet == Set("v1", "v2") && c.size == 1)
    c.removeIf(_.startsWith("s2"), releaseRemoved = false)
    assert(released.size == 2 && c.size == 0, "stopped-context path must not release")
  }

  test("a no-match releasing removeIf does not touch the parked generation") {
    val (c, released) = cacheWithLog(1)
    c.putIfAbsent("a", "va")
    c.putIfAbsent("b", "vb") // va parked
    c.removeIf(_ == "nope", releaseRemoved = true)
    assert(released.isEmpty, "unrelated admin call must not re-open the race")
  }

  test("release runs for every value evicted by a burst of inserts (one generation behind)") {
    val (c, released) = cacheWithLog(3)
    (1 to 10).foreach(i => c.putIfAbsent(s"k$i", s"v$i"))
    assert(c.size == 3)
    // evictions fire on inserts 4..10; each releases the previous
    // generation, so v1..v6 are free and v7 is parked
    assert(released.toSet == (1 to 6).map(i => s"v$i").toSet)
    c.removeIf(_ => true, releaseRemoved = true)
    assert(released.toSet == (1 to 10).map(i => s"v$i").toSet,
      "final drain must account for every value")
  }
}
