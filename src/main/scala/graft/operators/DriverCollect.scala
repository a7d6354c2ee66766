package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** Config-sized driver collects in ONE Spark job each.
  *
  * `df.select(c).distinct().collect()` plans an aggregate with a
  * shuffle, and under adaptive execution every shuffle stage runs as a
  * job of its own: a shuffle-map job, then the result job, each with
  * its driver round-trip and the status records the driver keeps per
  * job. A result that is config-sized by contract (shard ids, file ids
  * of a lookup batch, a seed alphabet) needs no shuffle: each partition
  * folds its values into a local set, and the driver unions the sets.
  */
private[graft] object DriverCollect {

  /** The distinct non-null values of `c` over `df`, in no particular
    * order, collected in one job. With a `cap`, the collect refuses
    * with `overCap` if and only if the global distinct count exceeds
    * it: no partition keeps more than `cap + 1` values, so the driver
    * never holds more than partitions × (cap + 1), and a partition
    * that alone exceeds the cap already proves the refusal.
    */
  def distinctValues[T](df: DataFrame, c: Column, cap: Int = Int.MaxValue,
                        overCap: => String = ""): Seq[T] = {
    val one = df.select(c)
    val dt = one.schema.head.dataType
    val keep = if (cap == Int.MaxValue) cap else cap + 1
    val sets = one.queryExecution.toRdd.mapPartitions { rows =>
      val toScala = CatalystTypeConverters.createToScalaConverter(dt)
      val seen = scala.collection.mutable.HashSet.empty[Any]
      while (seen.size < keep && rows.hasNext) {
        val r = rows.next()
        if (!r.isNullAt(0)) seen += toScala(r.get(0, dt))
      }
      Iterator.single(seen.toArray)
    }.collect()
    val all = sets.iterator.flatten.toSet
    require(all.size <= cap, overCap)
    all.toSeq.asInstanceOf[Seq[T]]
  }
}
