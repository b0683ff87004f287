package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (SURVEY.md §5). AQE's skew-join split handles
  * most runtime skew on sort-merge joins; salting is the explicit tool for
  * the cases AQE can't re-plan — aggregations on heavy-hitter keys and
  * joins where one build key dominates.
  *
  * Semantics are identical to the unsalted forms (the spec pins this);
  * only the exchange layout changes: the skewed side spreads each key over
  * `salt` subkeys, the other side replicates each row `salt` times, so a
  * key that used to land on one reducer now occupies `salt` of them.
  */
object Skew {

  /** Inner equi-join where `left` is skewed on `key`: left rows are salted
    * with a deterministic per-row subkey (hash-based, no rand() — keeps
    * retries/speculation consistent), right rows are replicated across all
    * subkeys. Result equals `left.join(right, key)` row-for-row. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String, salt: Int): DataFrame = {
    val saltedLeft = left.withColumn("_salt",
      pmod(xxhash64(struct(left.columns.map(col).toIndexedSeq: _*)), lit(salt)).cast("int"))
    val explodedRight = right.withColumn("_salt",
      explode(expr(s"sequence(0, ${salt - 1})")))
    saltedLeft.join(explodedRight, Seq(key, "_salt")).drop("_salt")
  }

  /** Hot-key-only salting: salt the join ONLY for the keys in `hotKeys`
    * (a small one-column frame, broadcast); all other keys take the plain
    * equi-join. Result equals `left.join(right, key)` row-for-row.
    *
    * Why this exists (measured at 10× gate volume, PERF.md "Σ df² dials
    * at 10× gate volume"): blanket
    * [[saltedJoin]] replicates the ENTIRE right side `salt`×, and on a
    * 104M-candidate join that replication cost MORE than the hot task it
    * spread (54 s vs 31 s unsalted). Salting pays only when applied to the
    * keys that actually overflow a reducer — here the replication is
    * |hot right rows| × salt instead of |right| × salt, so the cold path
    * is untouched and the hot path parallelizes `salt`-ways. */
  def saltedJoinHot(left: DataFrame, right: DataFrame, key: String, salt: Int,
                    hotKeys: DataFrame): DataFrame = {
    val hot = broadcast(hotKeys.select(col(key)).distinct())
    val plain = left.join(hot, Seq(key), "left_anti")
      .join(right.join(hot, Seq(key), "left_anti"), Seq(key))
    val salted = saltedJoin(
      left.join(hot, Seq(key), "left_semi"),
      right.join(hot, Seq(key), "left_semi"), key, salt)
    plain.unionByName(salted)
  }

  /** PLAN-DRIVEN salting — closes the report → dial → mechanism loop
    * executably: [[KeySkew]] reports hot keys, [[SaltingPlan]] sizes
    * their salt factors, and this consumes that plan frame DIRECTLY
    * (columns `key`, `salt_ways` — the saltingPlan output contract) so
    * a user never wires the three by hand. Unlike [[saltedJoinHot]]'s
    * single salt factor, each hot key is split its OWN `salt_ways`
    * ways — the ceil-div factor that returns that key's per-task share
    * to an average reducer's load — so a 100× key gets 32 subkeys while
    * a 3× key gets 3, and right-side replication stays at
    * Σ |hot right rows_k| · salt_k instead of |hot right| · max-salt.
    * Every non-planned key takes the untouched plain join. Result
    * equals `left.join(right, key)` row-for-row (spec-pinned). The plan
    * frame is top-K-bounded by construction — always broadcast-sized. */
  def saltedJoinPlanned(left: DataFrame, right: DataFrame, key: String,
                        plan: DataFrame): DataFrame = {
    val hot = broadcast(plan.select(col("key").as(key), col("salt_ways")).distinct())
    val plain = left.join(hot.select(key), Seq(key), "left_anti")
      .join(right.join(hot.select(key), Seq(key), "left_anti"), Seq(key))
    val saltedLeft = left.join(hot, Seq(key))
      .withColumn("_salt",
        pmod(xxhash64(struct(left.columns.map(col).toIndexedSeq: _*)),
          col("salt_ways")).cast("int"))
      .drop("salt_ways")
    // per-row bounded sequence inline at the generator (salt_ways ≥ 1 by
    // the plan's ceil-div construction — no empty-array guard needed)
    val saltedRight = right.join(hot, Seq(key))
      .withColumn("_salt", explode(expr("sequence(0, CAST(salt_ways AS INT) - 1)")))
      .drop("salt_ways")
    plain.unionByName(saltedLeft.join(saltedRight, Seq(key, "_salt")).drop("_salt"))
  }

  /** Two-stage skew-proof aggregation: partial aggregate on (key, salt),
    * then final aggregate on key. For algebraic aggregates this is exactly
    * the map-side-combine shape, made explicit so a heavy-hitter key is
    * first reduced `salt`-ways in parallel. `partials` aggregate the raw
    * rows; `finals` merge the partials (e.g. sum/sum, count/sum). */
  def saltedAgg(df: DataFrame, key: String, salt: Int,
                partials: Seq[Column], finals: Seq[Column]): DataFrame =
    df.withColumn("_salt",
      pmod(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)), lit(salt)).cast("int"))
      .groupBy(col(key), col("_salt"))
      .agg(partials.head, partials.tail: _*)
      .groupBy(col(key))
      .agg(finals.head, finals.tail: _*)
}
