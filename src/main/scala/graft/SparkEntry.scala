package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.qcew.{NaicsAgg, Resample, Series}
import graft.ext.{Affinity, AsofJoin, Bloom, Corpus, Dedup, EventsStream, Forecast, Graph, Inference, Multimodal, Privacy, Quantiles, ScaleOps, Sessionize, Similarity, Sketch, Spatial, StatefulOps, TextStats, TimeFill}

/** Driver contract — see SURVEY.md §7.
  *
  * Every operator shape from SURVEY.md §2 (scan/projection, fixed-width
  * parse, non-strict cast, flagship agg+suppression, dim join, anti/semi
  * join, lag-window series, top-k, unpivot, mode, distinct picklist,
  * time-period concat, resample, union, null-filters, events window) plus
  * the training-data extensions (exact/minhash/LSH/simhash/jaccard dedup,
  * cosine top-k, embedding buckets, text quality/lang-id, multimodal
  * metadata, structured streaming) is expressed as a named query over the
  * driver's testdata tables, with a matching DuckDB oracle in
  * [[oracleSql]].
  *
  * Determinism discipline: every query ends in a total `orderBy` over a
  * unique key, and every float aggregate is `round`ed identically on both
  * sides (sums of ~1e7 rounded at 1e-2..1e-6 absorb reassociation drift).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_flagship_agg")(spark, "/root/testdata/sf0.001")

  // Registry shards (round-9 split of the former 11k-line map);
  // ContractSpec gates name uniqueness, query/oracle key
  // equality, and the census floor (at least 358 entries).
  private lazy val allQueries
      : Seq[(String, (SparkSession, String) => DataFrame)] =
    QueriesCore.queries ++
      QueriesLake.queries ++
      QueriesStream.queries ++
      QueriesText.queries ++
      QueriesSim.queries ++
      QueriesGraph.queries ++
      QueriesStats.queries ++
      QueriesTs.queries
  private lazy val allOracles: Seq[(String, String)] =
    QueriesCore.oracles ++
      QueriesLake.oracles ++
      QueriesStream.oracles ++
      QueriesText.oracles ++
      QueriesSim.oracles ++
      QueriesGraph.oracles ++
      QueriesStats.oracles ++
      QueriesTs.oracles

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val names = allQueries.map(_._1)
    require(names.distinct.size == names.size,
      "duplicate query name across registry shards: " +
        names.diff(names.distinct).distinct.mkString(", "))
    allQueries.toMap
  }

  lazy val oracleSql: Map[String, String] = {
    val names = allOracles.map(_._1)
    require(names.distinct.size == names.size,
      "duplicate oracle name across registry shards: " +
        names.diff(names.distinct).distinct.mkString(", "))
    allOracles.toMap
  }
}
