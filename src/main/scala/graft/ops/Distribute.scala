package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DISTRIBUTE / PARTITION — the reference's explicit MPP repartitioning
  * (SURVEY §2.9; TAKhashdistribute :905, helper :1959; Thor impl
  * `thorlcr/activities/hashdistrib/thhashdistribslave.cpp:80`).
  *
  * In Spark, repartitioning is the shuffle itself; these wrappers exist so
  * engine code states *why* data moves. LOCAL ops then run per-partition
  * with no further movement — the planner property the reference compiles
  * into every activity (SURVEY §2.9 LOCAL) is Spark's `Distribution` /
  * `EnsureRequirements` machinery.
  */
object Distribute {

  /** DISTRIBUTE(ds, HASH(keys)) — hash repartition. */
  def byHash(df: DataFrame, keys: Seq[Column], n: Option[Int] = None): DataFrame =
    n.map(df.repartition(_, keys: _*)).getOrElse(df.repartition(keys: _*))

  /** NWAYDISTRIBUTE (TAKnwaydistribute :1086, helper `include(row,
    * targetNode)` :1974): predicate-routed distribution — each row goes to
    * the partition named by `targetExpr` (0-based, taken `pmod
    * numPartitions`). A hash repartition would scramble the mapping, so the
    * target is passed through as the partition id (`repartitionById`: a
    * planned shuffle exchange that AQE never coalesces). A null target
    * lands in partition 0. With `replicateAll` (SDFisall :1969) every row
    * goes to ALL partitions.
    */
  def nwayRouted(df: DataFrame, targetExpr: Column, numPartitions: Int,
      replicateAll: Boolean = false): DataFrame =
    df.withColumn("__t",
        if (replicateAll) explode(sequence(lit(0), lit(numPartitions - 1)))
        else targetExpr.cast("int"))
      .repartitionById(numPartitions, col("__t"))
      .drop("__t")

  /** Salt a skewed key: append a random-ish but DETERMINISTIC salt derived
    * from other columns, spreading hot keys over `buckets` partitions.
    * Join the salted fact against a salt-exploded dimension.
    */
  def salted(df: DataFrame, key: Column, saltFrom: Column, buckets: Int,
      as: String): DataFrame =
    df.withColumn(as, concat(key.cast("string"), lit("#"),
      (pmod(hash(saltFrom), lit(buckets))).cast("string")))
}
