package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Kernels, PairMoments, TopKBuf}

/** Layer 0: nanoseconds per call of the JVM kernels behind graft's
  * custom expressions and of the typed-aggregate update paths, on inputs
  * sampled (by seed) from the workload's own `documents` and
  * `embeddings` tables. Each kernel is warmed up, then timed over
  * [[Rounds]] `nanoTime` loops; the median loop gives ns per call. Every
  * result is folded into a volatile sink so the JIT cannot drop the call.
  */
object KernelBench {
  private val Sample = 64
  private val CallsPerRound = 512
  private val WarmRounds = 5
  private val Rounds = 15

  @volatile private var sink = 0L

  private def fold(a: ArrayData): Long =
    if (a.numElements() == 0) 0L else a.numElements().toLong ^ a.getLong(0)

  def run(spark: SparkSession, dataDir: String, seed: Long): Map[String, Double] = {
    val rnd = new scala.util.Random(seed)
    val texts = rnd.shuffle(graft.Tables.documents(spark, dataDir)
        .select("text").collect().toSeq.map(_.getString(0)))
      .take(Sample).map(UTF8String.fromString).toArray
    val vecs = rnd.shuffle(graft.Tables.embeddings(spark, dataDir)
        .select("embedding").collect().toSeq.map(_.getSeq[Float](0).toArray))
      .take(Sample).toArray
    val n = math.min(texts.length, vecs.length)
    require(n >= 2, s"kernel bench needs documents and embeddings in $dataDir")

    val floatArr = vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v): ArrayData)
    val ticks = vecs.map(v => v.map(x => math.round(x * 1000.0)))
    val longArr = ticks.map(t => UnsafeArrayData.fromPrimitiveArray(t): ArrayData)
    val hashSets = texts.map(Kernels.shingleHashSet(_, 5))

    // item-kNN model: every sampled vector is an item whose neighbours
    // are the next eight sampled items, scored by integer dot product
    val nbrRows = (for {
      i <- 0 until n; d <- 1 to 8
      j = (i + d) % n
    } yield InternalRow(i.toLong, j.toLong,
      ticks(i).zip(ticks(j)).map { case (a, b) => a * b }.sum / 1000L)).toArray[Any]
    val nbrs = new GenericArrayData(nbrRows)
    val rated = Array.tabulate(n) { u =>
      new GenericArrayData(Array.tabulate[Any](8)(t =>
        InternalRow(((u * 7 + t * 3) % n).toLong, 1.0 + (t % 5))))
    }
    // ALS catalog: [id, t_0..t_7] per item, flattened
    val rank = 8
    val catalog = UnsafeArrayData.fromPrimitiveArray(
      (0 until n).flatMap(i => i.toLong +: ticks(i).take(rank).toSeq).toArray)
    val users = ticks.map(t => UnsafeArrayData.fromPrimitiveArray(t.take(rank)): ArrayData)
    val scores = Array.tabulate(CallsPerRound)(i => vecs(i % n)(i % vecs(0).length).toDouble)

    val moments = PairMoments(BoundReference(0, ArrayType(LongType, containsNull = false),
      nullable = false))
    val momentRows = longArr.map(a => InternalRow(a))
    var momentBuf = moments.createAggregationBuffer()
    var topk = new TopKBuf(10)

    val kernels: Seq[(String, Int => Long)] = Seq(
      "minhash" -> (i => fold(Kernels.minhash(texts(i % n), 64, 5))),
      "shingleHashes" -> (i => Kernels.shingleHashes(texts(i % n), 5).length.toLong),
      "simhash64" -> (i => Kernels.simhash64(texts(i % n))),
      "ngramJaccard" -> (i => java.lang.Double.doubleToLongBits(
        Kernels.ngramJaccard(texts(i % n), texts((i + 1) % n), 3))),
      "ngramContainment" -> (i => java.lang.Double.doubleToLongBits(
        Kernels.ngramContainment(texts(i % n), texts((i + 1) % n), 3))),
      "winnow" -> (i => fold(Kernels.winnow(texts(i % n), 5, 4))),
      "langidTop" -> (i => Kernels.langidTop(texts(i % n)).hashCode.toLong),
      "sortedContainment" -> (i => java.lang.Double.doubleToLongBits(
        Kernels.sortedContainment(hashSets(i % n), hashSets((i + 1) % n)))),
      "sortedJaccardGe" -> (i =>
        if (Kernels.sortedJaccardGe(hashSets(i % n), hashSets((i + 1) % n), 0.5)) 1L else 0L),
      "itemKnnServe" -> (i => Kernels.itemKnnServe(rated(i % n), nbrs, 10).numElements().toLong),
      "alsServeTopk" -> (i => Kernels.alsServeTopk(users(i % n), catalog, 10).numElements().toLong),
      "cosineF" -> (i => java.lang.Double.doubleToLongBits(
        Kernels.cosineF(floatArr(i % n), floatArr((i + 1) % n)))),
      "hyperplaneBands" -> (i => fold(Kernels.hyperplaneBands(floatArr(i % n), 8, 8, 7L))),
      "TopKBuf.insert" -> { i =>
        if (i == 0) topk = new TopKBuf(10)
        topk.insert(scores(i % scores.length), i.toLong)
        topk.m.toLong
      },
      "PairMoments.update" -> { i =>
        if (i == 0) momentBuf = moments.createAggregationBuffer()
        momentBuf = moments.update(momentBuf, momentRows(i % n))
        momentBuf(1)
      })

    kernels.map { case (name, call) =>
      def round(): Double = {
        var acc = 0L
        val t0 = System.nanoTime()
        var i = 0
        while (i < CallsPerRound) { acc ^= call(i); i += 1 }
        val dt = System.nanoTime() - t0
        sink ^= acc
        dt.toDouble / CallsPerRound
      }
      (0 until WarmRounds).foreach(_ => round())
      s"kernel.$name.ns" -> Stats.median((0 until Rounds).map(_ => round()))
    }.toMap
  }
}
