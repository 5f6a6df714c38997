package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Most-specific-match dimension lookup — the rule/policy join where a
  * fact matches MANY rule rows at different wildcard levels and the most
  * specific one wins (per-tenant overrides over per-type defaults over a
  * global default; CIDR-style longest-prefix matching is the same shape
  * with prefix levels as the masks).
  *
  * Rules are one table with NULL meaning "wildcard" in a key column. A
  * naive theta-join (`fact.k1 <=> rule.k1 OR rule.k1 IS NULL …`) is a
  * BroadcastNestedLoop scan of every rule per fact PLUS a per-fact argmax
  * to break specificity ties; here the rule table is split by its
  * null-mask into per-LEVEL slices and the plan becomes a chain of
  * broadcast HASH equi-joins (most-specific first) + one `coalesce` —
  * map-only end to end, no shuffle of the fact stream, no argmax
  * aggregate, each join probing only that level's rules.
  */
object Lookup {

  /** Join `facts` to the most specific matching rule.
    *
    * Levels are the distinct null-masks present in `rules`, probed in
    * (specificity desc, mask desc) order — deterministic when two masks
    * share a popcount. Rules must be unique per full key tuple (checked
    * with one aggregate over the driver-small rule table; duplicate keys
    * within one mask would multiply fact rows in a left join, the
    * classic silent-fanout bug). Facts with no matching rule (no
    * all-wildcard rule present) get NULL `outCol` and level -1.
    *
    * @param keys       shared key columns (fact side must carry them all)
    * @param payloadCol rule column to surface (e.g. a rule id or rate)
    * @return facts + `outCol` (winning payload) + `levelCol` (winning
    *         mask's popcount, -1 if unmatched)
    */
  def mostSpecificLookup(facts: DataFrame, rules: DataFrame,
                         keys: Seq[String], payloadCol: String,
                         outCol: String = "matched",
                         levelCol: String = "match_level"): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    val dup = rules.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1).limit(1).count()
    require(dup == 0, "rules must be unique per full key tuple")
    val masks: Seq[Seq[Boolean]] = rules
      .select(keys.map(k => col(k).isNotNull.as(k)): _*)
      .distinct().collect()
      .map(r => keys.indices.map(i => r.getBoolean(i)))
      // popcount desc, then leftmost-specific-first among equals
      .sortBy(m => (-m.count(identity), m.map(b => if (b) "0" else "1").mkString))
      .toSeq
    var out = facts
    masks.zipWithIndex.foreach { case (mask, i) =>
      val pred = keys.zip(mask)
        .map { case (k, m) => if (m) col(k).isNotNull else col(k).isNull }
        .reduce(_ && _)
      val ks = keys.zip(mask).collect { case (k, true) => k }
      val slice = rules.filter(pred)
        .select(ks.map(col) :+ col(payloadCol).as(s"__p$i"): _*)
      out =
        if (ks.isEmpty) out.crossJoin(broadcast(slice))
        else out.join(broadcast(slice), ks, "left")
    }
    val win = coalesce(masks.indices.map(i => col(s"__p$i")): _*)
    val lvl = coalesce(
      masks.zipWithIndex.map { case (m, i) =>
        when(col(s"__p$i").isNotNull, lit(m.count(identity)))
      } :+ lit(-1): _*)
    out.withColumn(outCol, win).withColumn(levelCol, lvl)
      .drop(masks.indices.map(i => s"__p$i"): _*)
  }
}
