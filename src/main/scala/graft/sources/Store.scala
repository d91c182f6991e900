package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Std.System.Store (reference `ecllibrary/std/system/Store.ecl:1-570`,
  * the WsStore ESP service): a namespaced key–value store for small
  * configuration/coordination values — `SetKeyValue`, `GetKeyValue`,
  * `DeleteKeyValue`, `ListKeys`, `GetAllKeyValues`, `ListNamespaces`,
  * `DeleteNamespace` (Store.ecl:356/397/445/481/514/295/548), with the
  * reference's response contracts (`was_found`, `was_deleted`, set
  * returns success).
  *
  * Spark-native shape: the state is a [[LogManifest]] chain under
  * `<root>/_store` — the ONE commit engine for driver-side metadata, the
  * same as the [[FileCatalog]]'s, so concurrent writers from any process
  * resolve through atomic version claims, not advisory locks, and each
  * write commits only its own `Put`/`Del` records. On top of that engine,
  * [[setExclusive]] gives the create-exclusive winner election the
  * reference expresses as CreateStore's `already_present` contract
  * (Store.ecl:197): exactly one of N racing writers observes `true`.
  *
  * Values are for metadata-sized payloads (the reference's WsStore caps
  * value size per store — `MaxValSize`); datasets belong in the catalog,
  * not the store.
  */
final class Store(spark: SparkSession, root: String) {

  // state: (namespace, key) → value; line format K\t<ns>\t<key>\t<b64>
  // (base64 so values may contain tabs/newlines; ns/key are checked)
  private type State = Map[(String, String), String]

  private def parse(text: String): State =
    text.split("\n").filter(_.startsWith("K\t")).map { l =>
      val p = l.split("\t", -1)
      (p(1), p(2)) -> unb64(p(3))
    }.toMap

  private def render(s: State): String =
    s.toSeq.sortBy(_._1).map { case ((ns, k), v) =>
      s"K\t$ns\t$k\t${b64(v)}"
    }.mkString("\n")

  // operation records: P\t<ns>\t<key>\t<b64> | D\t<ns>\t<key>
  private sealed trait Op
  private final case class Put(ns: String, key: String, value: String)
    extends Op
  private final case class Del(ns: String, key: String) extends Op

  private def b64(v: String): String =
    java.util.Base64.getEncoder.encodeToString(v.getBytes(UTF_8))

  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), UTF_8)

  private def renderOp(op: Op): String = op match {
    case Put(ns, k, v) => s"P\t$ns\t$k\t${b64(v)}"
    case Del(ns, k) => s"D\t$ns\t$k"
  }

  private def parseOp(line: String): Op = {
    val p = line.split("\t", -1)
    p(0) match {
      case "P" => Put(p(1), p(2), unb64(p(3)))
      case "D" => Del(p(1), p(2))
      case other => sys.error(s"unknown store op tag: $other")
    }
  }

  private def applyOp(s: State, op: Op): State = op match {
    case Put(ns, k, v) => s + ((ns, k) -> v)
    case Del(ns, k) => s - ((ns, k))
  }

  private val manifest = new LogManifest[State, Op](spark,
    new org.apache.hadoop.fs.Path(root, "_store").toString,
    Map.empty, parse, render, parseOp, renderOp, applyOp, _.size)

  private def check(s: String, what: String): String = {
    require(s.nonEmpty && !s.exists(c => c == '\t' || c == '\n'),
      s"illegal $what: '$s'")
    s
  }

  /** SetKeyValue (Store.ecl:356): upsert, last committed write wins. */
  def set(namespace: String, key: String, value: String): Unit = {
    check(namespace, "namespace"); check(key, "key")
    manifest.commit(_ => Seq(Put(namespace, key, value)))
  }

  /** Create-exclusive set: succeeds iff the key is ABSENT at commit time
    * — the atomic winner election of CreateStore's `already_present`
    * contract (Store.ecl:197-255). Exactly one of N concurrent callers
    * for the same key returns true; losers see false and the key holds
    * the winner's value.
    */
  def setExclusive(namespace: String, key: String, value: String): Boolean = {
    check(namespace, "namespace"); check(key, "key")
    val k = (namespace, key)
    // the commit fn is re-run on a lost race against the fresher state,
    // so "was it absent when MY commit won" is exactly "absent in the
    // state my winning records were built from"
    var won = false
    manifest.commit { s =>
      won = !s.contains(k)
      if (won) Seq(Put(namespace, key, value)) else Nil
    }
    won
  }

  /** GetKeyValue (Store.ecl:397): `was_found` is None. */
  def get(namespace: String, key: String): Option[String] =
    manifest.load().get((namespace, key))

  /** DeleteKeyValue (Store.ecl:445): true iff the key existed. */
  def delete(namespace: String, key: String): Boolean = {
    val k = (namespace, key)
    var existed = false
    manifest.commit { s =>
      existed = s.contains(k)
      if (existed) Seq(Del(namespace, key)) else Nil
    }
    existed
  }

  /** ListKeys (Store.ecl:481), sorted. */
  def listKeys(namespace: String): Seq[String] =
    manifest.load().keys.collect { case (ns, k) if ns == namespace => k }
      .toSeq.sorted

  /** GetAllKeyValues (Store.ecl:514). */
  def getAll(namespace: String): Map[String, String] =
    manifest.load().collect { case ((ns, k), v) if ns == namespace => k -> v }

  /** ListNamespaces (Store.ecl:295), sorted distinct. */
  def listNamespaces(): Seq[String] =
    manifest.load().keys.map(_._1).toSeq.distinct.sorted

  /** DeleteNamespace (Store.ecl:548): true iff any key was removed. */
  def deleteNamespace(namespace: String): Boolean = {
    var existed = false
    manifest.commit { s =>
      val hit = s.keys.filter(_._1 == namespace).toSeq.sorted
      existed = hit.nonEmpty
      hit.map { case (ns, k) => Del(ns, k) }
    }
    existed
  }

  /** The whole store as (namespace, key, value) — the read-back table for
    * oracle gates and for composing store state with the engine.
    */
  def asDataFrame: DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("namespace", StringType),
      StructField("key", StringType), StructField("value", StringType)))
    val rows = manifest.load().toSeq.sortBy(_._1)
      .map { case ((ns, k), v) => Row(ns, k, v) }
    spark.createDataFrame(rows.asJava, schema)
  }
}
