package graft

import org.scalatest.funsuite.AnyFunSuite

class LruCacheSpec extends AnyFunSuite {

  test("evicts the least-recently-used entry at capacity, not everything") {
    val c = new LruCache[Int, String](3)
    c.put(1, "a"); c.put(2, "b"); c.put(3, "c")
    assert(c.get(1) == "a") // touch 1 -> 2 is now eldest
    c.put(4, "d")
    assert(c.size == 3)
    assert(c.get(2) == null, "LRU victim must be the untouched entry")
    assert(c.get(1) == "a" && c.get(3) == "c" && c.get(4) == "d")
  }

  test("get on a miss returns null and does not grow the map") {
    val c = new LruCache[String, String](2)
    assert(c.get("nope") == null && c.size == 0)
  }

  test("probation keeps a first-sight value only until its key comes back") {
    val c = new ProbationCache[Int, String](capacity = 4, probation = 2, ghosts = 8)
    c.put(1, "a")
    assert(c.get(1) == "a", "an immediate repeat hits in probation")
    c.put(2, "b"); c.put(3, "c"); c.put(4, "d")
    assert(c.get(1) == "a", "a promoted value outlives probation")
    assert(c.get(2) == null, "probation dropped the eldest first-sight value")
    assert(c.get(3) == "c" && c.get(4) == "d")
    assert(c.stats == ((4L, 1L)))
  }

  test("a key probation dropped is kept when it comes back") {
    val c = new ProbationCache[Int, String](capacity = 4, probation = 1, ghosts = 8)
    c.put(1, "a"); c.put(2, "b") // 2 pushes 1 out; 1 becomes a ghost
    assert(c.get(1) == null)
    c.put(1, "a"); c.put(3, "c"); c.put(4, "d")
    assert(c.get(1) == "a", "the ghost's value went straight to the kept LRU")
    assert(c.get(3) == null && c.get(4) == "d")
    c.resetStats()
    assert(c.stats == ((0L, 0L)))
  }
}
