package graft.pipeline

import scala.collection.mutable.ArrayBuffer

/** The streaming "one sorted group at a time" kernel behind Dedup's typed
  * group passes: d2/d7/d10's band buckets, d4/d16's shingle groups and
  * per-doc pair runs, d5's embedding buckets.
  *
  * Sort-order contract: every caller feeds a partition that was
  * repartitioned on the group key and then `sortWithinPartitions` by that
  * key plus the member id, so each group is ONE contiguous run and its
  * rows arrive in member order. Callers rely on that order: the first row
  * of a run is its minimum (the star anchor), and pairs formed in arrival
  * order already satisfy a < b.
  */
private[graft] object SortedGroups {

  /** Splits `rows` into runs of adjacent rows for which `same(first, row)`
    * holds, comparing against the run's first row so no key is built per
    * row. Each run is an iterator over the shared input, handed out
    * lazily; asking for the next run first skips whatever the caller left
    * unread of the current one (an over-cap group it drops, say), so no
    * row leaks into the following run. Holds one row per open run.
    */
  def runs[T](rows: Iterator[T])(same: (T, T) => Boolean): Iterator[Iterator[T]] =
    new Iterator[Iterator[T]] {
      private val in = rows.buffered
      private var open: Iterator[T] = Iterator.empty
      def hasNext: Boolean = {
        while (open.hasNext) open.next()
        in.hasNext
      }
      def next(): Iterator[T] = {
        if (!hasNext) Iterator.empty.next()
        val first = in.next()
        open = Iterator.single(first) ++ new Iterator[T] {
          def hasNext: Boolean = in.hasNext && same(first, in.head)
          def next(): T = if (hasNext) in.next() else Iterator.empty.next()
        }
        open
      }
    }

  /** Buffers at most `cap` rows of `run`; the flag says the run had more,
    * its tail still unread in `run`. This is what keeps a capped kernel's
    * state at O(cap) rows however large a hot group grows.
    */
  def capped[T](run: Iterator[T], cap: Int): (ArrayBuffer[T], Boolean) = {
    val buf = ArrayBuffer.empty[T]
    while (buf.length < cap && run.hasNext) buf += run.next()
    (buf, run.hasNext)
  }

  /** `f` over every pair (grp(i), grp(j)), i < j <= i + width, in arrival
    * order; the default width gives all C(n, 2) pairs. The bound is
    * computed in longs, so an effectively infinite width cannot overflow.
    */
  def pairs[T, U](grp: collection.IndexedSeq[T], width: Int = Int.MaxValue)(
      f: (T, T) => U): Iterator[U] =
    grp.indices.iterator.flatMap { i =>
      val end = math.min(i.toLong + 1L + width, grp.length.toLong).toInt
      (i + 1 until end).iterator.map(j => f(grp(i), grp(j)))
    }

  /** All pairs of a run of at most `cap` rows; a longer run emits star
    * edges instead — its first row paired with every other — streaming
    * the tail past the cap one row at a time. Fan-out stays linear in the
    * run and state O(cap), and the run stays one connected component.
    */
  def pairsOrStar[T, U](run: Iterator[T], cap: Int)(f: (T, T) => U): Iterator[U] = {
    val (buf, over) = capped(run, cap)
    if (!over) pairs(buf)(f)
    else {
      val anchor = buf.head
      buf.iterator.drop(1).map(f(anchor, _)) ++ run.map(f(anchor, _))
    }
  }
}
