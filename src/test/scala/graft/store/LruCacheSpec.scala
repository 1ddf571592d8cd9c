package graft.store

import org.scalatest.funsuite.AnyFunSuite

/** The bound on [[TableLog]]'s manifest parse cache: past its capacity
  * the least recently used entry goes, so the manifests a live table
  * reads every trigger stay cached while cold ones make way. */
class LruCacheSpec extends AnyFunSuite {

  test("an overflow evicts the least recently used entry and keeps the hot ones") {
    val c = new LruCache[String, Int](3)
    Seq("a", "b", "c").zipWithIndex.foreach { case (k, i) => c.put(k, i) }
    // "a" is read on every round, as a live table's manifests are
    (0 until 10).foreach { i =>
      assert(c.get("a").contains(0))
      c.put(s"cold-$i", i)
    }
    assert(c.get("a").contains(0), "the hot entry survives every overflow")
    assert(c.get("b").isEmpty && c.get("c").isEmpty)
    assert((0 until 8).forall(i => c.get(s"cold-$i").isEmpty))
    assert(c.get("cold-8").contains(8) && c.get("cold-9").contains(9))
  }

  test("a put refreshes an entry's recency") {
    val c = new LruCache[String, Int](2)
    c.put("a", 1); c.put("b", 2)
    c.put("a", 3)
    c.put("c", 4)
    assert(c.get("a").contains(3) && c.get("b").isEmpty && c.get("c").contains(4))
  }
}
