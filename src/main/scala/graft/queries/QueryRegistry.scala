package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gated query: `build` makes its DataFrame from a session and the
  * directory of the parquet tables; `oracle` is the DuckDB SQL the
  * driver hash-compares its result against on the same tables.
  *
  * Oracle strategy per algorithm class:
  *   - exact operators (exact dedup, n-gram Jaccard, brute-force top-k,
  *     text stats): the oracle recomputes the same exact answer in SQL;
  *   - MinHash-LSH: the oracle is the EXACT all-pairs Jaccard answer — the
  *     engine's banded-LSH candidates + exact verification must therefore
  *     achieve total recall on the qualifying pairs (8 bands × 6 rows at
  *     the planted J≈0.99 pairs: miss probability ≈ 6e-10);
  *   - SimHash / IVF: deterministic approximations whose oracle reproduces
  *     the SAME algorithm via portable arithmetic (polynomial hashes, list
  *     folds), so approximate results are still hash-checkable.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

/** Every gated query, one entry each, gathered from the tier files. */
object QueryRegistry {
  lazy val all: Seq[Query] =
    RelationalQueries.all ++ CorpusQueries.all ++ CurationQueries.all ++
      AnalyticsQueries.all ++ TrainingQueries.all ++ MediaQueries.all ++
      MediaDedupQueries.all
}
