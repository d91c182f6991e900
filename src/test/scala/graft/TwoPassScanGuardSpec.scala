package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.ops.Positions` holds the only copy of the per-partition summary
  * pass and of the broadcast-state second pass. A `mapPartitionsWithIndex`
  * or `zipPartitions` anywhere else in the engine is a hand-written copy
  * of that machinery; route it through `Positions.partitionSummaries` or
  * `Positions.scanSorted` instead. Those passes read and emit Spark's own
  * `InternalRow`s (`queryExecution.toRdd`, `GraftBridge.internalFrame`);
  * a `.rdd` or `createDataFrame` brings back the external-Row round trip.
  * `graft.multimodal.Multimodal` likewise runs every function through one
  * partition pass, `perRow`.
  */
class TwoPassScanGuardSpec extends AnyFunSuite {
  test("mapPartitionsWithIndex and zipPartitions appear in src/main/scala " +
      "only in Positions") {
    val hits = ParquetReadGuardSpec.sitesOf(raw"\b(mapPartitionsWithIndex|zipPartitions)\b".r)
      .distinct
    assert(hits == Seq("src/main/scala/graft/ops/Positions.scala"),
      s"per-partition passes outside Positions: ${hits.mkString(", ")}")
  }

  test("the ordered scans stay on Spark's rows: no .rdd in graft/ops or " +
      "graft/model, no createDataFrame or Row.fromSeq in Positions") {
    import ParquetReadGuardSpec.{sources, withoutComments}
    val code = sources.map { case (f, text) =>
      (f, withoutComments(text).linesIterator
        .filterNot(_.trim.startsWith("import ")).mkString("\n"))
    }
    val rdd = code.collect { case (f, text) if
        (f.startsWith("src/main/scala/graft/ops/") ||
          f.startsWith("src/main/scala/graft/model/")) &&
        raw"\.rdd\b".r.findFirstIn(text).nonEmpty => f }
    assert(rdd.isEmpty, s"external-Row scans: ${rdd.mkString(", ")}")
    val external = code.collect {
      case (f, text) if f.endsWith("/graft/ops/Positions.scala") =>
        raw"\b(createDataFrame|Row\.fromSeq)\b".r.findAllIn(text).toSeq
    }.flatten
    assert(external.isEmpty, s"external Rows in Positions: $external")
  }

  test("Multimodal runs one partition pass: one mapPartitions and one " +
      "Encoders.row") {
    import ParquetReadGuardSpec.{sources, withoutComments}
    val code = sources.collect { case (f, text)
      if f.endsWith("/graft/multimodal/Multimodal.scala") => withoutComments(text) }
    assert(code.size == 1)
    for (call <- Seq(raw"\bmapPartitions\b", raw"\bEncoders\.row\b")) {
      val n = call.r.findAllIn(code.head).size
      assert(n == 1, s"$call appears $n times in Multimodal.scala")
    }
  }
}
