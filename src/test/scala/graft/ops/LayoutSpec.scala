package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

class LayoutSpec extends SparkSuite {

  private def z(x: Int, y: Int, bits: Int): Long = {
    import spark.implicits._
    Seq((x, y)).toDF("x", "y")
      .select(Layout.zValue2(col("x"), col("y"), bits)).head.getLong(0)
  }

  test("zValue2 interleaves bits: x at even positions, y at odd") {
    // x=101b -> positions 0,4 ; y=011b -> positions 1,3
    assert(z(5, 3, 3) == 27L)
    assert(z(0, 0, 8) == 0L)
    assert(z(1, 0, 8) == 1L)
    assert(z(0, 1, 8) == 2L)
    assert(z(255, 0, 8) == 0x5555L)
    assert(z(0, 255, 8) == 0xAAAAL)
    // reference scalar implementation on random points
    val rnd = new scala.util.Random(5)
    def ref(x: Int, y: Int, bits: Int): Long =
      (0 until bits).map { i =>
        (((x >> i) & 1).toLong << (2 * i)) | (((y >> i) & 1).toLong << (2 * i + 1))
      }.reduce(_ | _)
    for (_ <- 1 to 50) {
      val (x, y) = (rnd.nextInt(1 << 12), rnd.nextInt(1 << 12))
      assert(z(x, y, 12) == ref(x, y, 12))
    }
  }

  test("aligned power-of-two tiles are contiguous z-ranges") {
    // the property that makes min/max file pruning work: an aligned
    // 2^k x 2^k tile's z-values form EXACTLY [z0, z0 + 4^k)
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 10) {
      val k = 1 + rnd.nextInt(3) // tile 2..8 on a side
      val side = 1 << k
      val tx = rnd.nextInt(64 / side) * side
      val ty = rnd.nextInt(64 / side) * side
      val zs = (for (x <- tx until tx + side; y <- ty until ty + side)
        yield (x, y)).toDF("x", "y")
        .select(Layout.zValue2(col("x"), col("y"), 6))
        .collect().map(_.getLong(0)).sorted
      assert(zs.length == side * side)
      assert(zs.last - zs.head == side * side - 1,
        s"tile ($tx,$ty) side $side not contiguous: ${zs.head}..${zs.last}")
      assert(zs.zip(zs.tail).forall { case (a, b) => b == a + 1 })
    }
  }

  test("z-ordered range layout prunes a 2-D box to few partitions") {
    import spark.implicits._
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x, y))
      .toDF("x", "y")
    val laid = Layout.zorder(grid, "x", "y", bits = 6, numFiles = 16)
      .withColumn("pid", spark_partition_id())
      .persist()
    try {
      assert(laid.select(countDistinct("pid")).head.getLong(0) == 16L)
      // an aligned 8x8 box is 64 contiguous z-values; 4096/16 = 256
      // values per range partition -> the box lives in at most 2
      val touched = laid
        .filter(col("x").between(8, 15) && col("y").between(8, 15))
        .select(countDistinct("pid")).head.getLong(0)
      assert(touched <= 2L, s"8x8 box touched $touched of 16 partitions")
      // same box under the naive x-major layout touches at least half
      // the partitions (every x-stripe of the box lands elsewhere)
      val naive = grid
        .repartitionByRange(16, col("x") * 64 + col("y"))
        .withColumn("pid", spark_partition_id())
        .filter(col("y").between(8, 15)) // y-selective predicate
        .select(countDistinct("pid")).head.getLong(0)
      assert(naive >= 8L, s"expected naive layout to scatter, got $naive")
    } finally laid.unpersist()
  }

  test("rendezvousShard: minimal disruption on add AND remove; balanced; null keys null") {
    import spark.implicits._
    val keys = (1L to 2000L).toDF("k")
    val s5 = Seq("s0", "s1", "s2", "s3", "s4")
    val a5 = Layout.rendezvousAssign(keys, "k", s5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every shard gets a plausible share (uniform-ish: 2000/5 = 400)
    val shares = a5.values.groupBy(identity).view.mapValues(_.size)
    s5.foreach(sh => assert(shares(sh) > 250 && shares(sh) < 550,
      s"$sh got ${shares.toMap}"))
    // ADD law: growing to 6 shards moves ONLY keys that land on the
    // new shard — nobody relocates between surviving shards
    val a6 = Layout.rendezvousAssign(keys, "k", s5 :+ "s5")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val movedElsewhere = a5.count { case (k, sh) =>
      a6(k) != sh && a6(k) != "s5" }
    assert(movedElsewhere == 0, s"$movedElsewhere keys relocated " +
      "between surviving shards on scale-out")
    val movedToNew = a5.count { case (k, _) => a6(k) == "s5" }
    assert(movedToNew > 200 && movedToNew < 500, // ~1/6 of 2000 = 333
      s"expected ~1/6 of keys on the new shard, got $movedToNew")
    // REMOVE law: dropping a shard reassigns ONLY its keys
    val a4 = Layout.rendezvousAssign(keys, "k", s5.filterNot(_ == "s2"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a5.forall { case (k, sh) => sh == "s2" || a4(k) == sh },
      "a surviving shard lost keys on shard removal")
    // NULL keys get NULL shards, loud contracts
    val withNull = Seq[java.lang.Long](7L, null).toDF("k")
    val got = Layout.rendezvousAssign(withNull, "k", s5).collect()
      .map(r => Option(r.get(0)) -> Option(r.getString(1))).toMap
    assert(got(None).isEmpty && got(Some(7L)).nonEmpty)
    intercept[IllegalArgumentException] {
      Layout.rendezvousShard(col("k"), Nil)
    }
    intercept[IllegalArgumentException] {
      Layout.rendezvousShard(col("k"), Seq("a", "a"))
    }
  }

  test("rendezvousShard2: flat-HRW distribution properties at " +
      "O(sqrt(n)) hashes; member churn confined to its group") {
    import spark.implicits._
    val keys = (1L to 4000L).toDF("k")
    val groups = (0 until 4).map(g =>
      s"g$g" -> (0 until 4).map(m => s"m$m"))
    def assign(gs: Seq[(String, Seq[String])]): Map[Long, String] =
      keys.select(col("k"),
          Layout.rendezvousShard2(col("k"), gs).as("shard"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = assign(groups)
    // balanced over all 16 leaf shards, like flat HRW over 16 names
    // (4000/16 = 250; the same tolerance band the flat spec uses,
    // scaled): uniformity is per-level independence of md5 argmaxes
    val shares = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(shares.size == 16, s"only ${shares.size} shards used")
    shares.foreach { case (sh, n) =>
      assert(n > 150 && n < 360, s"$sh got $n of 4000 (want ~250)")
    }
    // MEMBER-ADD law, stronger than flat HRW: growing g1 to 5 members
    // relocates ~1/5 of g1's OWN keys and — by construction — zero
    // keys of any other group
    val grown = groups.map { case (g, ms) =>
      g -> (if (g == "g1") ms :+ "m4" else ms) }
    val b = assign(grown)
    val outsideMoved = a.count { case (k, sh) =>
      !sh.startsWith("g1/") && b(k) != sh }
    assert(outsideMoved == 0,
      s"$outsideMoved keys outside g1 relocated on a g1 member add")
    val g1Keys = a.collect { case (k, sh) if sh.startsWith("g1/") => k }.toSeq
    val g1Moved = g1Keys.count(k => b(k) != a(k))
    assert(b.values.forall(sh => !sh.startsWith("g1/") ||
      grown.toMap.apply("g1").contains(sh.stripPrefix("g1/"))))
    // ~1/5 of g1's ~1000 keys = ~200; wide band, law not a point est.
    assert(g1Moved > 100 && g1Moved < 350,
      s"expected ~1/5 of g1's ${g1Keys.length} keys to move, got $g1Moved")
    assert(g1Keys.count(k => b(k) == "g1/m4") == g1Moved,
      "a g1 key moved somewhere other than the new member")
    // GROUP-ADD law: a new group drains ~1/5 from everywhere; keys
    // not drawn to it keep their exact shard (group pick is HRW)
    val plus = groups :+ ("g4" -> Seq("m0", "m1"))
    val c = assign(plus)
    val movedNotToNew = a.count { case (k, sh) =>
      c(k) != sh && !c(k).startsWith("g4/") }
    assert(movedNotToNew == 0,
      s"$movedNotToNew keys relocated between surviving groups")
    val drained = a.keys.count(k => c(k).startsWith("g4/"))
    assert(drained > 500 && drained < 1100, // ~1/5 of 4000 = 800
      s"expected ~1/5 drained to the new group, got $drained")
    // NULL keys, loud contracts
    val withNull = Seq[java.lang.Long](7L, null).toDF("k")
    val got = withNull.select(col("k"),
        Layout.rendezvousShard2(col("k"), groups).as("s"))
      .collect().map(r => Option(r.get(0)) -> Option(r.getString(1))).toMap
    assert(got(None).isEmpty && got(Some(7L)).nonEmpty)
    intercept[IllegalArgumentException] {
      Layout.rendezvousShard2(col("k"), Nil)
    }
    intercept[IllegalArgumentException] {
      Layout.rendezvousShard2(col("k"), Seq("a" -> Nil))
    }
    intercept[IllegalArgumentException] {
      Layout.rendezvousShard2(col("k"), Seq("a/b" -> Seq("m")))
    }
    intercept[IllegalArgumentException] {
      Layout.rendezvousShard2(col("k"), Seq("a" -> Seq("m", "m")))
    }
  }
}
