package graft.ops

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The LSH banding kernel behind every banded candidate generator
  * (minhash, simhash and SRP, production and md5-replayable). A family
  * supplies only its per-row band keys and its pair score; this module
  * owns everything between them:
  *
  *  - [[explode]]: a per-row array of band keys becomes
  *    (id, band, bucket) rows, band = the key's position;
  *  - [[stage]]: the band table is repartitioned ONCE on
  *    (band, bucket), capped at `maxBucket` rows per group and staged
  *    (`Materialize.stage`) AFTER the cap. The [[sizes]] aggregate and
  *    the cap join are co-partitioned with that repartition, so the
  *    cap adds no exchange of its own, and every consumer reads the
  *    staged blocks: the band table is built and crosses the wire once
  *    however many consumers read it. Staging before the cap would
  *    re-run the cap join in every consumer (PlanSpec pins the
  *    exchange counts);
  *  - [[pairs]] / [[matches]]: candidates out of one staged table
  *    (self-join, `id_a < id_b`) or out of a probe table against a
  *    staged base;
  *  - [[attach]]: a per-id payload re-joined to both sides of the
  *    pairs, so the wide signature never rides the band exchange.
  *
  * The cap is the web-scale dedup guard: a bucket shared by thousands
  * of rows is non-discriminative boilerplate and costs O(n²) join
  * work, while true near-dup pairs still collide in their other,
  * smaller bands. */
private[graft] object Banding {

  /** Validates the banding parameters of a `k`-wide signature cut into
    * `bands` bands, capped at `maxBucket` rows per group; returns the
    * signature rows per band. `k` must divide evenly: a truncated
    * banding would silently read only bands * (k / bands) of it. */
  def rows(k: Int, bands: Int, maxBucket: Int = Int.MaxValue): Int = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(k % bands == 0,
      s"k must be a multiple of bands, got k=$k bands=$bands")
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    k / bands
  }

  /** (id, carry..., band, bucket): one row per element of `keys`. */
  def explode(df: DataFrame, id: Column, keys: Column,
      carry: Column*): DataFrame =
    df.select((id +: carry) :+ posexplode(keys).as(Seq("band", "bucket")): _*)

  /** Rows per (band, bucket) group, as `bsz` — the aggregate the cap
    * filters on. */
  def sizes(banded: DataFrame): DataFrame =
    banded.groupBy("band", "bucket").agg(count(lit(1)).as("bsz"))

  /** The band table repartitioned on (band, bucket), groups above
    * `maxBucket` rows dropped ([[rows]] validates it), staged. */
  def stage(banded: DataFrame, maxBucket: Int = Int.MaxValue): DataFrame =
    Materialize.stage {
      val b0 = banded.repartition(col("band"), col("bucket"))
      if (maxBucket == Int.MaxValue) b0
      else b0.join(sizes(b0).filter(col("bsz") <= maxBucket),
        Seq("band", "bucket")).drop("bsz")
    }

  /** Rows of one staged table sharing a (band, bucket), as
    * (id_a, id_b) with id_a < id_b, plus each `carry` column per side
    * as `a_<c>` / `b_<c>`. One row per colliding band: callers without
    * carry columns take `.distinct()`, the others aggregate. */
  def pairs(staged: DataFrame, id: String, carry: String*): DataFrame = {
    val (a, b) = (staged.as("a"), staged.as("b"))
    a.join(b,
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col(s"a.$id") < col(s"b.$id"))
      .select(Seq(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b")) ++
        carry.flatMap(c => Seq(col(s"a.$c").as(s"a_$c"),
          col(s"b.$c").as(s"b_$c"))): _*)
  }

  /** Rows of `probe` and `base` sharing a (band, bucket), as
    * (probe id `__l`, base id `__r`); not deduplicated. */
  def matches(probe: DataFrame, probeId: String, base: DataFrame,
      baseId: String): DataFrame =
    probe.select(col("band"), col("bucket"), col(probeId).as("__l"))
      .join(base.select(col("band"), col("bucket"), col(baseId).as("__r")),
        Seq("band", "bucket"))

  /** Distinct unordered pairs (least id as id_a) of `probe` rows meeting
    * a different `base` row in a (band, bucket). */
  def probePairs(probe: DataFrame, base: DataFrame, id: String): DataFrame =
    matches(probe, id, base, id)
      .filter(col("__l") =!= col("__r"))
      .select(least(col("__l"), col("__r")).as("id_a"),
        greatest(col("__l"), col("__r")).as("id_b"))
      .distinct()

  /** `pairs` joined with `payload` (keyed by `id`) on both sides: each
    * other payload column c comes out as `a_<c>` and `b_<c>`. */
  def attach(pairs: DataFrame, payload: DataFrame, id: String): DataFrame = {
    val cols = payload.columns.filterNot(_ == id)
    def side(s: String) = payload.select(ArraySeq.unsafeWrapArray(
      col(id).as(s"id_$s") +: cols.map(c => col(c).as(s"${s}_$c"))): _*)
    pairs.join(side("a"), Seq("id_a")).join(side("b"), Seq("id_b"))
  }
}
