package org.apache.spark.ml.recommendation.graft

import scala.util.hashing.byteswap64

import org.apache.spark.HashPartitioner
import org.apache.spark.ml.linalg.BLAS
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.random.XORShiftRandom

/** `private[recommendation]` access shim (the [[org.apache.spark.sql.graft
  * .ColumnBridge]] pattern) for fitting an explicit-feedback `ALS` on the
  * driver. It replays `ALS.fit`'s algorithm over in-memory ratings with
  * Spark's own pieces: the hash block partitioner, `XORShiftRandom`
  * initialization, `NormalEquation` accumulation and `CholeskySolver`.
  * Only the order in which each row's ratings are summed differs (Spark's
  * follows shuffle arrival order, this one ascending ids), so factors agree
  * with `ALS.fit`'s to float rounding.
  */
object AlsBridge {

  /** `(id, features)` rows, ascending by id. */
  type Factors = Array[(Int, Array[Float])]

  /** One side of the bipartite rating graph: its distinct ids grouped by
    * ALS block, ascending inside each block, as `ALS.fit`'s in-blocks keep
    * them.
    */
  private final class Side(ids: Array[Int], numBlocks: Int) {
    private val sorted = ids.distinct.sorted
    private val part = new HashPartitioner(numBlocks)
    /** Each id's block and position in it, indexed like `sorted`. */
    val (block, pos) = {
      val sizes = new Array[Int](numBlocks)
      val b = sorted.map(part.getPartition)
      (b, b.map { x => sizes(x) += 1; sizes(x) - 1 })
    }
    val blocks: Array[Array[Int]] =
      Array.tabulate(numBlocks)(x => sorted.filter(part.getPartition(_) == x))
    /** The index of `id` in `sorted`. */
    def index(id: Int): Int = java.util.Arrays.binarySearch(sorted, id)

    /** `ALS.initialize`: one `XORShiftRandom` per block, a unit vector of
      * `nextGaussian` draws per id.
      */
    def init(rank: Int, seed: Long): Array[Array[Array[Float]]] =
      blocks.zipWithIndex.map { case (ids, b) =>
        val random = new XORShiftRandom(byteswap64(seed ^ b))
        Array.fill(ids.length) {
          val f = Array.fill(rank)(random.nextGaussian().toFloat)
          val nrm = BLAS.nativeBLAS.snrm2(rank, f, 1)
          BLAS.nativeBLAS.sscal(rank, 1.0f / nrm, f, 1)
          f
        }
      }
  }

  /** One destination block's ratings in compressed rows: row `j`'s are
    * `ptr(j) until ptr(j + 1)`, each a source (block, position) and a
    * rating.
    */
  private final class InBlock(val ptr: Array[Int], val srcBlock: Array[Int],
      val srcPos: Array[Int], val rating: Array[Float])

  private def links(dst: Side, src: Side, dstIds: Array[Int],
      srcIds: Array[Int], ratings: Array[Float]): Array[InBlock] = {
    val (d, s) = (dstIds.map(dst.index), srcIds.map(src.index))
    // ascending (dst, src) order makes each row's sum order deterministic
    val order = ratings.indices.sortBy(i => d(i).toLong << 32 | s(i))
    dst.blocks.indices.map { b =>
      val rs = order.filter(i => dst.block(d(i)) == b).toArray
      val ptr = new Array[Int](dst.blocks(b).length + 1)
      rs.foreach(i => ptr(dst.pos(d(i)) + 1) += 1)
      for (j <- 1 until ptr.length) ptr(j) += ptr(j - 1)
      new InBlock(ptr, rs.map(i => src.block(s(i))), rs.map(i => src.pos(s(i))),
        rs.map(ratings))
    }.toArray
  }

  /** `ALS.computeFactors` without the shuffle: every destination row
    * solves its regularized normal equation (λ × its rating count, the
    * ALS-WR weighting) over the source factors. Blocks solve in
    * parallel, one unit each.
    */
  private def solve(in: Array[InBlock], srcFactors: Array[Array[Array[Float]]],
      rank: Int, regParam: Double): Array[Array[Array[Float]]] = {
    val out = new Array[Array[Array[Float]]](in.length)
    java.util.stream.IntStream.range(0, in.length).parallel().forEach { b =>
      val blk = in(b)
      val ne = new ALS.NormalEquation(rank)
      val solver = new ALS.CholeskySolver
      out(b) = Array.tabulate(blk.ptr.length - 1) { j =>
        ne.reset()
        for (i <- blk.ptr(j) until blk.ptr(j + 1))
          ne.add(srcFactors(blk.srcBlock(i))(blk.srcPos(i)), blk.rating(i))
        solver.solve(ne, (blk.ptr(j + 1) - blk.ptr(j)) * regParam)
      }
    }
    out
  }

  /** `als.fit` over the ratings `(users(i), items(i), ratings(i))`, on the
    * driver. Returns the model, whose factor tables are local relations
    * with `ALS.fit`'s schema, and both factor tables ascending by id.
    * Explicit feedback and the unconstrained solver only.
    */
  def fit(spark: SparkSession, als: ALS, users: Array[Int],
      items: Array[Int], ratings: Array[Float])
      : (ALSModel, Factors, Factors) = {
    require(!als.getImplicitPrefs && !als.getNonnegative,
      "the driver fit replays explicit-feedback, unconstrained ALS only")
    require(ratings.nonEmpty, "No ratings available")
    val rank = als.getRank
    val (userSide, itemSide) =
      (new Side(users, als.getNumUserBlocks), new Side(items, als.getNumItemBlocks))
    val userIn = links(userSide, itemSide, users, items, ratings)
    val itemIn = links(itemSide, userSide, items, users, ratings)
    val seedGen = new XORShiftRandom(als.getSeed)
    var userF = userSide.init(rank, seedGen.nextLong())
    var itemF = itemSide.init(rank, seedGen.nextLong())
    for (_ <- 0 until als.getMaxIter) {
      itemF = solve(itemIn, userF, rank, als.getRegParam)
      userF = solve(userIn, itemF, rank, als.getRegParam)
    }
    def table(side: Side, f: Array[Array[Array[Float]]]): Factors =
      side.blocks.zip(f).flatMap { case (ids, fs) => ids.zip(fs) }.sortBy(_._1)
    val (u, i) = (table(userSide, userF), table(itemSide, itemF))
    val s = spark
    import s.implicits._
    val model = new ALSModel(als.uid, rank, u.toSeq.toDF("id", "features"),
      i.toSeq.toDF("id", "features"))
      .setUserCol(als.getUserCol).setItemCol(als.getItemCol)
      .setPredictionCol(als.getPredictionCol)
      .setColdStartStrategy(als.getColdStartStrategy)
      .setBlockSize(als.getBlockSize)
      .setParent(als)
    (model, u, i)
  }
}
