package graft

import org.apache.spark.sql.SparkSession

/** Operator phase labels. An operator wraps the part of its body that runs
  * Spark jobs in [[phase]], and every job started inside carries the label
  * as the `graft.phase` local property, which a listener (see
  * `graft.tools.Profile`) reads off the job-start event. Nested phases join
  * with `/`. The job group, the job description and any other local
  * property are left alone; with no listener registered a phase costs two
  * `setLocalProperty` calls.
  */
object obs {

  val PhaseKey = "graft.phase"

  def phase[T](label: String)(body: => T): T = {
    val sc = SparkSession.active.sparkContext
    val outer = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey,
      if (outer == null) label else s"$outer/$label")
    try body
    finally sc.setLocalProperty(PhaseKey, outer) // null removes it
  }
}
