package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Latest-record-per-key deduplication (reference A1: `GROUP BY scenarioId`
  * with `MAX(time)` + 16× `MAX_BY(col, time)`, exports_results.sql:51-81).
  *
  * Scale notes: a single hash aggregate with map-side partial aggregation —
  * each map task ships at most one pre-combined row per key to the shuffle,
  * so shuffle volume is O(distinct keys), not O(rows). The equivalent
  * `row_number() OVER (PARTITION BY key ORDER BY ord) = 1` formulation
  * shuffles *every* input row and then sorts each partition; prefer this
  * form at 100 TB. Ties on `ord` are nondeterministic in both DuckDB
  * `MAX_BY` and Spark `max_by` — pass a tie-free ordering column (or a
  * struct of (ord, unique_id)) when determinism matters.
  */
object DedupLatest {

  /** Collision-FREE scalar ordering key over (time, unique tie column):
    * `time * 2^63 + tie` in DECIMAL(38,0) — distinct (time, tie) pairs map
    * to distinct keys for any non-negative tie < 2^63 (epoch-µs × 2^63 ≈
    * 1.6e34 ≪ 1e38, no precision loss). The DuckDB oracle twin is the
    * same arithmetic in HUGEINT (`x::HUGEINT * 9223372036854775808 + tie`
    * — MAX_BY takes HUGEINT keys, and int128 order = this decimal order),
    * so both engines order identically with NO modulus collision — unlike
    * a `time * k + tie % k` int64 composite, whose ties under collision
    * would let each independent max_by pick fields from different rows. */
  def ordKey128(time: Column, tie: Column): Column =
    time.cast("decimal(20,0)") * lit(BigDecimal("9223372036854775808")) +
      tie.cast("decimal(20,0)")

  /** Keep the latest record per `keys`, ordering by `ord`; `payload` columns
    * are carried via `max_by`. Output columns: keys ++ ord ++ payload.
    *
    * DuckDB-faithful NULL handling (exports_results.sql's MAX_BY): MAX_BY
    * SKIPS NULL values, so each payload column independently takes its value
    * from the latest record where THAT column is non-NULL. Masking the
    * ordering key when the value is NULL (max_by ignores NULL-ordered rows)
    * reproduces that exactly; unmasked Spark max_by would return the
    * possibly-NULL value at the max key.
    */
  def latestBy(df: DataFrame, keys: Seq[String], ord: String, payload: Seq[String]): DataFrame =
    latestByScalar(df, keys, ord, col(ord), payload)

  /** As [[latestBy]] but the argmax ordering key is the caller-supplied
    * scalar `ordKey`. Implemented as ONE [[graft.functions.ArgMaxFields]]
    * typed aggregate (per-field DuckDB MAX_BY NULL-skip semantics) so the
    * plan is ObjectHashAggregate, not the SortAggregate that N string-typed
    * `max_by` buffers force. `ordKey` must be MONOTONE in `ord` (rows with larger
    * `ord` get larger `ordKey`) so that `max(ord)` is still the argmax
    * row's value; a composite like `ord * 1024 + unique_id % 1024` breaks
    * ties on `ord` deterministically by construction instead of relying on
    * the data being tie-free. Unlike [[latestByTieBroken]]'s struct key, a
    * scalar composite is expressible in engines whose MAX_BY takes only
    * scalar ordering keys (DuckDB), so oracle twins can mirror it exactly. */
  def latestByScalar(df: DataFrame, keys: Seq[String], ord: String, ordKey: Column,
                     payload: Seq[String]): DataFrame = {
    graft.functions.ArgMaxFunctions.register(df.sparkSession)
    val packed = graft.functions.ArgMaxFunctions
      .argmax_fields(ordKey, payload.map(col): _*).as("_latest")
    df.groupBy(keys.map(col): _*)
      .agg(max(col(ord)).as(ord), packed)
      .select((keys.map(col) :+ col(ord)) ++
        payload.map(c => col("_latest").getField(c).as(c)): _*)
  }

  /** Pre-round-6 formulation of [[latestByScalar]]: N independent NULL-masked
    * `max_by`s. Semantically identical, but the string-typed `Max_By` buffers
    * force SortAggregate (no hash aggregation) — kept only as the parity
    * reference ArgMaxFieldsSpec checks [[latestByScalar]] against. */
  def latestByScalarMaxBy(df: DataFrame, keys: Seq[String], ord: String, ordKey: Column,
                          payload: Seq[String]): DataFrame = {
    val aggs: Seq[Column] =
      max(col(ord)).as(ord) +:
        payload.map(c => max_by(col(c), when(col(c).isNotNull, ordKey)).as(c))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** As [[latestBy]] but breaks ties on `ord` deterministically using
    * `tieBreaker` (ordering is by the (ord, tieBreaker) struct).
    */
  def latestByTieBroken(df: DataFrame, keys: Seq[String], ord: String,
                        tieBreaker: String, payload: Seq[String]): DataFrame = {
    val ordStruct = struct(col(ord), col(tieBreaker))
    val aggs: Seq[Column] =
      max(col(ord)).as(ord) +: payload.map(c => max_by(col(c), ordStruct).as(c))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
