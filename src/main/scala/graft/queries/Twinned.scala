package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two places a twinned body meets its engine: `in` is where its
  * input frame enters, `cut` where its result is materialized. Whatever
  * the body does after the cut (ordering, batch-side finalize) runs on
  * the cut's output.
  */
final case class Seams(in: DataFrame => DataFrame, cut: DataFrame => DataFrame)

object Seams {
  /** Both seams identity: the body's own batch plan. */
  val batch: Seams = Seams(identity, identity)
}

/** A batch entry whose body is written once against [[Seams]]. As a
  * query it runs on [[Seams.batch]]; its streaming twin runs the same
  * body on [[graft.streaming.StreamingQueries.seams]] (see the
  * derivation rule there).
  */
final case class Twinned(body: (SparkSession, String, Seams) => DataFrame)
    extends ((SparkSession, String) => DataFrame) {
  def apply(s: SparkSession, d: String): DataFrame = body(s, d, Seams.batch)
}
