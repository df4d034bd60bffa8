package graft

import graft.pipelines.Denorm
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §2 for the inventory. Each query's
 * name, builder and oracle SQL live together as one [[QuerySpec]] in
 * the group object of its inventory section: [[ReferenceQueries]] (A),
 * [[AnalyticsQueries]] (B), [[CorpusQueries]] (C) and
 * [[StreamingQueries]] (D). */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Denorm.flatDenorm(spark, "/root/testdata/sf0.001")

  private val specs: Seq[QuerySpec] =
    ReferenceQueries.specs ++ AnalyticsQueries.specs ++ CorpusQueries.specs ++
      StreamingQueries.specs
  require(specs.map(_.name).distinct.size == specs.size,
    "duplicate query names: " +
      specs.groupBy(_.name).filter(_._2.size > 1).keys.toSeq.sorted.mkString(", "))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] = specs.map(q => q.name -> q.oracleSql).toMap
}
