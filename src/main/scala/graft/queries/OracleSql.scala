package graft.queries

/** SQL fragments that more than one module's DuckDB oracle replays.
  *
  * Each fragment is one engine algorithm written once in DuckDB SQL, so
  * a change to the algorithm is one edit here instead of one per entry.
  * A fragment used by a single module lives in that module as a private
  * def. `OracleInventorySpec` pins the SQL each oracle entry renders. */
private[queries] object OracleSql {

  /** `a · b` over two list columns as an in-order left fold, so the
    * float sum is bit-stable across engines. */
  def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

  def sqlL2(a: String): String = s"sqrt(${sqlDot(a, a)})"

  /** Cosine similarity rounded to 6 places, as the engine's
    * `CosineSim` is compared. */
  def sqlCos(a: String, b: String): String =
    s"ROUND(${sqlDot(a, b)} / (${sqlL2(a)} * ${sqlL2(b)}), 6)"

  /** `TextDedup.tokensOf` on the `text` column: whitespace runs to one
    * space, trim, lowercase, split on the space. */
  val tokensSql: String =
    """string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ')"""

  /** [[tokensSql]] on another column. */
  def tokensOfSql(column: String): String =
    tokensSql.replace("(text,", s"($column,")

  /** CTE `tok(doc_id, t)`: the token list of each row of `src`. */
  def tokenListsSql(src: String): String =
    s"""tok AS (
       |  SELECT doc_id, $tokensSql AS t
       |  FROM $src
       |)""".stripMargin

  /** CTE `sh(doc_id, s)`: the distinct word `n`-gram shingles of each
    * `tok` row; a row shorter than `n` is one shingle. */
  def shinglesSql(n: Int): String =
    s"""sh AS (
       |  SELECT doc_id, CASE WHEN len(t) < $n THEN [array_to_string(t,' ')]
       |    ELSE list_distinct(list_transform(range(1, len(t)-${n - 2}), i -> array_to_string(t[i:i+${n - 1}],' ')))
       |  END AS s
       |  FROM tok
       |)""".stripMargin

  /** The HLL sketch (256 registers) of `user_id` per `event_type` over
    * `events`: md5 split into an 8-bit bucket and a 52-bit word, rho by
    * bit length, the exact integer harmonic sum. CTEs `h`, `r`, `s` and
    * `e(event_type, hll_v, hll_reg_digest, e_raw)`. With `shards > 0`,
    * `h` carries `shard` and the registers are built per shard (`r0`)
    * and max-merged. */
  def hllSql(shards: Int): String = {
    val rho = "MAX(CASE WHEN w = 0 THEN 53 ELSE 53 - len(bin(w)) END) AS m"
    val registers =
      if (shards > 0)
        s"""r0 AS (
           |  SELECT shard, event_type, bucket,
           |    $rho
           |  FROM h GROUP BY 1, 2, 3),
           |r AS (
           |  SELECT event_type, bucket, MAX(m) AS m FROM r0 GROUP BY 1, 2)""".stripMargin
      else
        s"""r AS (
           |  SELECT event_type, bucket,
           |    $rho
           |  FROM h GROUP BY 1, 2)""".stripMargin
    val shard = if (shards > 0) s"event_id % $shards AS shard, " else ""
    s"""h AS (
       |  SELECT ${shard}event_type,
       |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) AS bucket,
       |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 3, 13)) AS BIGINT) AS w
       |  FROM events WHERE user_id IS NOT NULL),
       |$registers,
       |s AS (
       |  SELECT event_type,
       |    CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT)
       |      + (256 - COUNT(*)) * (1::BIGINT << 53) AS s_scaled,
       |    256 - COUNT(*) AS hll_v,
       |    bit_xor(CAST(concat('0x', substring(md5(concat(
       |      CAST(bucket AS VARCHAR), ':', CAST(m AS VARCHAR))), 1, 13))
       |      AS BIGINT)) AS hll_reg_digest
       |  FROM r GROUP BY 1),
       |e AS (
       |  SELECT event_type, hll_v, hll_reg_digest,
       |    ${graft.ops.Sketches.AlphaMm}::DOUBLE * 9007199254740992::DOUBLE
       |      / CAST(s_scaled AS DOUBLE) AS e_raw
       |  FROM s)""".stripMargin
  }

  /** The estimate columns over [[hllSql]]'s `e`: linear counting below
    * 2.5 m with empty registers, the raw estimate otherwise. */
  val hllEstimateSql: String =
    """ROUND(CASE WHEN e_raw <= 640 AND hll_v > 0
      |    THEN 256::DOUBLE * ln(256::DOUBLE / CAST(hll_v AS DOUBLE))
      |    ELSE e_raw END, 2) AS n_hll,
      |  hll_v, hll_reg_digest""".stripMargin
}
