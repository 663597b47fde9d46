package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** The metadata cache's bound, stamp and eviction policy, in isolation. */
class MetaCacheSpec extends AnyFunSuite {
  private val Bound = MetaCache.MaxEntries

  test("size stays within the bound after bound + N distinct keys") {
    val c = new MetaCache[String, Unit, Int]
    (0 until Bound + 500).foreach(i => c.put(s"k$i", (), i))
    assert(c.size <= Bound)
    assert(c.peek(s"k${Bound + 499}", ()).contains(Bound + 499))
  }

  test("a changed stamp reloads and replaces the entry instead of adding one") {
    val c = new MetaCache[String, Int, String]
    var loads = 0
    def at(stamp: Int): String = c.get("dir", stamp) { loads += 1; s"v$stamp" }
    assert(at(1) == "v1" && at(1) == "v1")
    assert(loads == 1)
    assert(at(2) == "v2")
    assert(loads == 2)
    assert(c.size == 1)
    assert(c.peek("dir", 1).isEmpty)
  }

  test("the least recently used entry is evicted first") {
    val c = new MetaCache[String, Unit, Int]
    (0 until Bound).foreach(i => c.put(s"k$i", (), i))
    // reading k0 makes k1 the least recently used
    assert(c.peek("k0", ()).contains(0))
    c.put("new", (), -1)
    assert(c.peek("k1", ()).isEmpty)
    assert(c.peek("k0", ()).contains(0))
    assert(c.peek("new", ()).contains(-1))
    assert(c.size == Bound)
  }

  test("removeWhere releases exactly the matching entries") {
    val c = new MetaCache[(String, String), Unit, Int]
    Seq(("s1", "a"), ("s1", "b"), ("s2", "a")).zipWithIndex
      .foreach { case (k, i) => c.put(k, (), i) }
    c.removeWhere((k, _) => k._2 == "a")
    assert(c.size == 1)
    assert(c.peek(("s1", "b"), ()).contains(1))
  }
}
