package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.ops.Positions` holds the only copy of the per-partition summary
  * pass and of the broadcast-state second pass. A `mapPartitionsWithIndex`
  * or `zipPartitions` anywhere else in the engine is a hand-written copy
  * of that machinery; route it through `Positions.partitionSummaries` or
  * `Positions.scanSorted` instead.
  */
class TwoPassScanGuardSpec extends AnyFunSuite {
  test("mapPartitionsWithIndex and zipPartitions appear in src/main/scala " +
      "only in Positions") {
    val hits = ParquetReadGuardSpec.sitesOf(raw"\b(mapPartitionsWithIndex|zipPartitions)\b".r)
      .distinct
    assert(hits == Seq("src/main/scala/graft/ops/Positions.scala"),
      s"per-partition passes outside Positions: ${hits.mkString(", ")}")
  }
}
