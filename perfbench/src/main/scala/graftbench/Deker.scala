package graftbench

import graft.arrays.{ArrayModel, ArrayOps, HashRing}
import graft.arrays.ArrayOps.Dim
import graft.functions.GenKey
import graft.plans.RingLookup
import graft.sources.ArrayStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** deker_session: one Deker client working against a partitioned cell
  * store, in a closed loop. Requests come in blocks of twenty ([[Block]]),
  * shuffled by the seed: twelve slice reads (four each through
  * ArrayStore.sliceRead, strided ArrayOps.sliceRead and
  * ArrayOps.chunkedSliceRead), five patches through
  * ArrayStore.patchPartition and three placement lookups of a patched
  * region's tiles on the current and target rings. The seed draws the
  * regions and patch payloads; a fixed mix keeps the latency percentiles
  * comparable across seeds.
  *
  * Every answer is checked against a driver-side model of every cell,
  * seeded from one collect of the store and updated by every patch. Half
  * of the reads aim near a region patched earlier, so reads check patches.
  */
final class Deker(spark: SparkSession, runner: Runner, seed: Long, storePath: String) {
  import Deker._

  private val rng = new scala.util.Random(seed)
  private val model = mutable.HashMap.empty[(String, Long, Long), Double]
  private val patched = mutable.ArrayBuffer.empty[Region]
  private var arrays: IndexedSeq[String] = IndexedSeq.empty
  private var ext0, ext1 = 0L

  var patches = 0L
  var patchedCells = 0L
  var reads = 0
  var readsOnPatched = 0

  /** Rebuilds the model from the store; untimed bookkeeping. */
  def loadModel(): Unit = {
    model.clear()
    ArrayStore.open(spark, storePath).select("array_id", "i0", "i1", "value")
      .collect().foreach(r => model((r.getString(0), r.getLong(1), r.getLong(2))) = r.getDouble(3))
    arrays = model.keys.map(_._1).toIndexedSeq.distinct.sorted
    ext0 = model.keys.map(_._2).max + 1
    ext1 = model.keys.map(_._3).max + 1
  }

  /** One block of the request mix, in a seeded order. */
  def block(): Unit =
    rng.shuffle(Block).foreach {
      case StoreRead => storeRead()
      case StridedRead(step0, step1) => stridedRead(step0, step1)
      case ChunkedRead(chunks, step1) => chunkedRead(chunks, step1)
      case Patch => patch()
      case Place => place()
    }

  private def open(): DataFrame = ArrayStore.open(spark, storePath)

  private def randomRegion(): Region = {
    val s0 = math.min(ext0, 8L + rng.nextInt(13))
    val s1 = math.min(ext1, 8L + rng.nextInt(9))
    val lo0 = rng.nextLong(ext0 - s0 + 1)
    val lo1 = rng.nextLong(ext1 - s1 + 1)
    Region(arrays(rng.nextInt(arrays.size)), lo0, lo0 + s0, lo1, lo1 + s1)
  }

  /** A region shifted by at most three cells from a recent patch, so it
    * overlaps the patch.
    */
  private def readRegion(): Region =
    if (patched.isEmpty || rng.nextBoolean()) randomRegion()
    else {
      val p = patched(patched.size - 1 - rng.nextInt(math.min(8, patched.size)))
      def shift(lo: Long, hi: Long, ext: Long): (Long, Long) = {
        val d = math.max(-lo, math.min(ext - hi, rng.nextInt(7) - 3L))
        (lo + d, hi + d)
      }
      val (lo0, hi0) = shift(p.lo0, p.hi0, ext0)
      val (lo1, hi1) = shift(p.lo1, p.hi1, ext1)
      Region(p.array, lo0, hi0, lo1, hi1)
    }

  private def expected(r: Region, step0: Long, step1: Long): Seq[(Long, Long, Double)] =
    (for {
      i0 <- r.lo0 until r.hi0 by step0
      i1 <- r.lo1 until r.hi1 by step1
      v <- model.get((r.array, i0, i1))
    } yield (i0, i1, v)).sorted

  private def checkCells(r: Region, step0: Long, step1: Long)(rows: Array[Row]): Option[String] = {
    reads += 1
    if (patched.exists(_.overlaps(r))) readsOnPatched += 1
    val got = rows.map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    val want = expected(r, step0, step1)
    if (got.exists(_._1 != r.array)) Some(s"$r: rows of another array")
    else {
      val cells = got.map(g => (g._2, g._3, g._4)).toSeq.sorted
      if (cells == want) None
      else Some(s"$r step ($step0,$step1): got ${cells.size} cells, model has ${want.size}; " +
        s"first difference ${cells.diff(want).headOption.orElse(want.diff(cells).headOption)}")
    }
  }

  private def storeRead(): Unit = {
    val r = readRegion()
    runner.query("read") {
      ArrayStore.sliceRead(open(), ArrayModel.Coll, r.array, (r.lo0, r.hi0), (r.lo1, r.hi1))
        .select("array_id", "i0", "i1", "value")
    }(checkCells(r, 1L, 1L))
  }

  private def stridedRead(step0: Long, step1: Long): Unit = {
    val r = readRegion()
    runner.query("read") {
      ArrayOps.sliceRead(open(), r.array, Dim(r.lo0, r.hi0, step0), Dim(r.lo1, r.hi1, step1))
        .select("array_id", "i0", "i1", "value")
    }(checkCells(r, step0, step1))
  }

  /** A read that chunkedSliceRead splits into about `chunks` pieces along dim 0. */
  private def chunkedRead(chunks: Int, step1: Long): Unit = {
    val r = readRegion()
    val rows1 = (r.hi1 - r.lo1 + step1 - 1) / step1
    val maxCells = ((r.hi0 - r.lo0 + chunks - 1) / chunks) * rows1
    runner.query("read") {
      ArrayOps.chunkedSliceRead(open(), r.array, Dim(r.lo0, r.hi0), Dim(r.lo1, r.hi1, step1), maxCells)
        .select("array_id", "i0", "i1", "value")
    }(checkCells(r, 1L, step1))
  }

  /** Patch payload `c + a*i0 + b*i1` with a, b, c multiples of 1/4, so
    * Spark and the model compute it exactly.
    */
  private def patch(): Unit = {
    val r = randomRegion()
    val a = (rng.nextInt(9) - 4) * 0.25
    val b = (rng.nextInt(9) - 4) * 0.25
    val c = rng.nextInt(400) * 0.25
    val data = lit(c) + col("i0") * lit(a) + col("i1") * lit(b)
    val failedBefore = runner.failed
    runner.action("patch") {
      ArrayStore.patchPartition(spark, storePath, ArrayModel.Coll, r.array,
        (r.lo0, r.hi0), (r.lo1, r.hi1), data)
    }(None)
    if (runner.failed > failedBefore) loadModel() // the store's state is unknown; resynchronise
    else {
      for (i0 <- r.lo0 until r.hi0; i1 <- r.lo1 until r.hi1) {
        val k = (r.array, i0, i1)
        if (model.contains(k)) {
          model(k) = c + i0.toDouble * a + i1.toDouble * b
          patchedCells += 1
        }
      }
      patched += r
      patches += 1
    }
  }

  /** Places the tiles of a patched region on the current and target
    * rings, the lookup a rebalance makes before it moves data.
    */
  private def place(): Unit = {
    val r = if (patched.isEmpty) randomRegion() else patched(rng.nextInt(patched.size))
    val key = concat(lit(s"${r.array}/"), col("v0"), lit("-"), col("v1"))
    runner.query("place") {
      ArrayStore.sliceRead(open(), ArrayModel.Coll, r.array, (r.lo0, r.hi0), (r.lo1, r.hi1))
        .groupBy((col("i0") / ArrayModel.Tile0).cast("long").as("v0"),
                 (col("i1") / ArrayModel.Tile1).cast("long").as("v1"))
        .agg(count(lit(1)).as("n_cells"))
        .select(key.as("hash_key"), col("n_cells"),
          RingLookup.place(GenKey(key), HashRing.current).as("node"),
          RingLookup.place(GenKey(key), HashRing.target).as("target_node"))
    } { rows =>
      val want = expected(r, 1L, 1L)
        .groupBy { case (i0, i1, _) => s"${r.array}/${i0 / ArrayModel.Tile0}-${i1 / ArrayModel.Tile1}" }
        .map { case (k, cells) =>
          (k, cells.size.toLong, HashRing.current.getNode(k), HashRing.target.getNode(k))
        }.toSeq.sorted
      val got = rows.map(x => (x.getString(0), x.getLong(1), x.getString(2), x.getString(3))).toSeq.sorted
      if (got == want) None else Some(s"$r placement: got $got, want $want")
    }
  }
}

object Deker {
  sealed trait Request
  case object StoreRead extends Request
  final case class StridedRead(step0: Long, step1: Long) extends Request
  final case class ChunkedRead(chunks: Int, step1: Long) extends Request
  case object Patch extends Request
  case object Place extends Request

  /** Twenty requests: 60% reads, 25% patches, 15% placements. Strides
    * and chunk counts are fixed per block, so the work of a block does
    * not depend on the seed.
    */
  val Block: List[Request] =
    List.fill(4)(StoreRead) ++
      List(StridedRead(2, 1), StridedRead(1, 2), StridedRead(2, 2), StridedRead(3, 2)) ++
      List(ChunkedRead(2, 1), ChunkedRead(2, 2), ChunkedRead(3, 1), ChunkedRead(4, 2)) ++
      List.fill(5)(Patch) ++ List.fill(3)(Place)

  final case class Region(array: String, lo0: Long, hi0: Long, lo1: Long, hi1: Long) {
    def overlaps(o: Region): Boolean =
      array == o.array && lo0 < o.hi0 && o.lo0 < hi0 && lo1 < o.hi1 && o.lo1 < hi1
  }
}
