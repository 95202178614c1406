package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit checks for the size-aware shuffle-partition sizing rule —
  * no SparkSession needed.
  */
class EngineSpec extends AnyFunSuite {

  test("shufflePartitionsFor floors at core count and scales with input") {
    // small input on a big cluster: every core still gets a slot
    assert(Engine.shufflePartitionsFor(1L << 20, totalCores = 128) == 128)
    // 100 TB at 128 MiB target: ~800k partitions, above a 4000-core floor
    val p100tb = Engine.shufflePartitionsFor(100L * (1L << 40), totalCores = 4000)
    assert(p100tb == (100L * (1L << 40) / (128L << 20)).toInt)
    // sandbox shape: sf0.1 (~100 MB) on 32 cores → the 32 the repo ships
    assert(Engine.shufflePartitionsFor(100L << 20, totalCores = 32) == 32)
    // cap holds on absurd input
    assert(Engine.shufflePartitionsFor(Long.MaxValue / 2, totalCores = 8) == (1 << 20))
    intercept[IllegalArgumentException](Engine.shufflePartitionsFor(-1L, 8))
    intercept[IllegalArgumentException](Engine.shufflePartitionsFor(1L, 0))
  }

  test("packPair is injective inside the bound and fails loudly past it") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // round-trip: pack → shift/mask unpack is identity inside the bound
    val ok = Seq((0L, 0L), (1L, 2L), ((1L << 31) - 1, (1L << 32) - 1),
        (150000L * 10000L % (1L << 31), 4294967295L))
      .toDF("hi", "lo")
      .select(col("hi"), col("lo"), Engine.packPair(col("hi"), col("lo")).as("p"))
      .select(col("hi"), col("lo"),
        org.apache.spark.sql.functions.shiftright(col("p"), 32).as("h2"),
        col("p").bitwiseAND(org.apache.spark.sql.functions.lit(0xFFFFFFFFL)).as("l2"))
      .collect()
    ok.foreach { r =>
      assert(r.getLong(0) == r.getLong(2) && r.getLong(1) == r.getLong(3)) }
    // past the bound (hi = 2^31): the job FAILS instead of merging keys
    def packs(hi: Long, lo: Long): Unit =
      Seq((hi, lo)).toDF("hi", "lo")
        .select(Engine.packPair(col("hi"), col("lo"))).collect()
    intercept[Exception](packs(1L << 31, 0L))
    intercept[Exception](packs(0L, 1L << 32))
    intercept[Exception](packs(-1L, 0L))
  }

  test("packPair widens int columns: same keys as long inputs, loud past the bound") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pairs = Seq((0, 0), (1, 2), (Int.MaxValue, Int.MaxValue), (7, 65536))
    def packed(df: org.apache.spark.sql.DataFrame) =
      df.select(Engine.packPair(col("hi"), col("lo"))).collect().map(_.getLong(0)).toSeq
    val ints = pairs.toDF("hi", "lo")
    val longs = pairs.map { case (h, l) => (h.toLong, l.toLong) }.toDF("hi", "lo")
    assert(packed(ints) == packed(longs))
    assert(packed(ints) == pairs.map { case (h, l) => (h.toLong << 32) + l })
    // negatives are out of range on either side, whatever the width
    intercept[Exception](packed(Seq((-1, 0)).toDF("hi", "lo")))
    intercept[Exception](packed(Seq((0, -1)).toDF("hi", "lo")))
  }

  test("dirBytes sums regular files recursively, 0 for missing dirs") {
    val d = java.nio.file.Files.createTempDirectory("graft-dirbytes")
    java.nio.file.Files.write(d.resolve("a.bin"), new Array[Byte](1000))
    val sub = java.nio.file.Files.createDirectory(d.resolve("sub"))
    java.nio.file.Files.write(sub.resolve("b.bin"), new Array[Byte](234))
    assert(Engine.dirBytes(d.toString) == 1234L)
    assert(Engine.dirBytes(d.resolve("nope").toString) == 0L)
  }

  test("graft.checkpoint.dir swaps lineage truncation to reliable checkpoint, same results") {
    val spark = TestSpark.spark
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (5L, 6L), (6L, 5L))
      .toDF("src", "dst")
    // default path: localCheckpoint (conf unset)
    assert(spark.conf.getOption(Ckpt.DirConf).isEmpty)
    val local = graft.operators.Graph.minLabelRounds(edges, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // opt-in path: reliable checkpoint into a temp dir
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set(Ckpt.DirConf, dir)
    try {
      val reliable = graft.operators.Graph.minLabelRounds(edges, 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // identical labels: checkpointing changes WHERE frames
      // materialize, never their rows
      assert(reliable == local && local ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
      // and the reliable path actually wrote checkpoint data
      def files(d: java.io.File): Seq[java.io.File] = {
        val kids = Option(d.listFiles).map(_.toSeq).getOrElse(Nil)
        kids ++ kids.filter(_.isDirectory).flatMap(files)
      }
      assert(files(new java.io.File(dir)).exists(_.isFile),
        s"no checkpoint files under $dir")
    } finally spark.conf.unset(Ckpt.DirConf)
  }
}
