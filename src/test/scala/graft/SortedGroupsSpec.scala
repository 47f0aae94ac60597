package graft

import graft.pipeline.SortedGroups
import org.scalatest.funsuite.AnyFunSuite

/** The shared sorted-group kernel on plain iterators (no Spark session):
  * run splitting, the cap with its star and drop policies, skipping of
  * unread rows, and the band width.
  */
class SortedGroupsSpec extends AnyFunSuite {

  private def sameKey(x: (Int, Long, String), y: (Int, Long, String)) =
    x._1 == y._1 && x._2 == y._2

  /** An iterator that counts the rows pulled from it. */
  private final class Counting[T](rows: Seq[T]) extends Iterator[T] {
    private val it = rows.iterator
    var pulled = 0
    def hasNext: Boolean = it.hasNext
    def next(): T = { pulled += 1; it.next() }
  }

  test("a compound key splits where only its second part changes") {
    val rows = Seq((1, 10L, "a"), (1, 10L, "b"), (1, 11L, "c"), (1, 11L, "d"),
                   (2, 11L, "e"))
    val got = SortedGroups.runs(rows.iterator)(sameKey).map(_.map(_._3).toList).toList
    assert(got == List(List("a", "b"), List("c", "d"), List("e")))
  }

  test("rows a caller leaves unread are skipped, not leaked into the next run") {
    val rows = Seq((0, 1L, "a0"), (0, 1L, "a1"), (0, 1L, "a2"),
                   (0, 2L, "b0"), (0, 2L, "b1"), (0, 3L, "c0"))
    // read only each run's first row
    val firsts = SortedGroups.runs(rows.iterator)(sameKey).map(_.next()._3).toList
    assert(firsts == List("a0", "b0", "c0"))
    // read none of a run: the next run still starts at its own first row
    val runs = SortedGroups.runs(rows.iterator)(sameKey)
    runs.next()
    assert(runs.next().toList.map(_._3) == List("b0", "b1"))
    // a run handed out earlier ends where its key ends
    val r3 = runs.next()
    assert(r3.toList.map(_._3) == List("c0") && !runs.hasNext)
  }

  test("empty input has no runs and no pairs") {
    assert(SortedGroups.runs(Iterator.empty[(Int, Long, String)])(sameKey).isEmpty)
    assert(SortedGroups.pairs(IndexedSeq.empty[Int])((a, b) => (a, b)).isEmpty)
    val (buf, over) = SortedGroups.capped(Iterator.empty[Int], 3)
    assert(buf.isEmpty && !over)
  }

  test("star policy: a run of exactly cap rows is all-pairs, cap + 1 is a star") {
    val cap = 4
    val atCap = SortedGroups.pairsOrStar((0 until cap).iterator, cap)((a, b) => (a, b)).toSet
    assert(atCap == (for (i <- 0 until cap; j <- i + 1 until cap) yield (i, j)).toSet)
    val overCap = SortedGroups.pairsOrStar((0 to cap).iterator, cap)((a, b) => (a, b)).toList
    assert(overCap == (1 to cap).map(j => (0, j)).toList)
  }

  test("star policy streams the tail: only cap rows are read before output starts") {
    val cap = 4
    val run = new Counting(0 until 1000)
    val edges = SortedGroups.pairsOrStar(run, cap)((a, b) => (a, b))
    assert(run.pulled == cap)
    assert(edges.length == 999 && run.pulled == 1000)
  }

  test("drop policy: the cap flag is false at exactly cap rows, true at cap + 1") {
    val cap = 3
    val (atCap, atOver) = SortedGroups.capped((0 until cap).iterator, cap)
    assert(atCap.toList == List(0, 1, 2) && !atOver)
    val over = (0 to cap).iterator
    val (buf, overflowed) = SortedGroups.capped(over, cap)
    assert(buf.toList == List(0, 1, 2) && overflowed)
    assert(over.toList == List(cap), "the tail past the cap stays unread")
    // dropping an over-cap run inside `runs` leaves the next run intact
    val rows = (0 to cap).map(i => (0, 1L, s"a$i")) ++
      (0 until cap).map(i => (0, 2L, s"b$i"))
    val kept = SortedGroups.runs(rows.iterator)(sameKey).flatMap { run =>
      val (docs, dropped) = SortedGroups.capped(run, cap)
      if (dropped) Iterator.empty else docs.iterator.map(_._3)
    }.toList
    assert(kept == List("b0", "b1", "b2"))
  }

  test("band width limits each row to the next `width` rows") {
    val grp = IndexedSeq(0, 1, 2, 3, 4)
    val w2 = SortedGroups.pairs(grp, 2)((a, b) => (a, b)).toList
    assert(w2 == List((0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (2, 4), (3, 4)))
    assert(SortedGroups.pairs(grp, 0)((a, b) => (a, b)).isEmpty)
    // an effectively infinite width is all C(n, 2) pairs, without overflow
    assert(SortedGroups.pairs(grp, Int.MaxValue)((a, b) => (a, b)).length == 10)
    assert(SortedGroups.pairs(grp)((a, b) => (a, b)).length == 10)
  }
}
