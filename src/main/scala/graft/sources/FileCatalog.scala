package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets.UTF_8

/** Std.File / fileservices surface (ref `plugins/fileservices`,
  * `ecllibrary/std/File.ecl:126-1065`): a logical-file catalog — the Dali
  * DFS analog — mapping logical names to physical parquet locations, plus
  * superfiles (named unions read as one dataset,
  * `dali/base/dadfs.hpp:493` `IDistributedSuperFile`) with ATOMIC
  * add/remove/swap transactions (`File.ecl:982`
  * StartSuperFileTransaction / `:1065` FinishSuperFileTransaction).
  *
  * Catalog state is a versioned manifest chain under
  * `<root>/_catalog/v%016d.txt`, committed through [[LogManifest]] —
  * the one commit engine for driver-side metadata, shared with the
  * [[Store]] KV service (atomic claim-with-content winner election,
  * `#END`-guarded reads, stale-claim expiry) with O(delta) commits: each
  * mutation publishes its operation records and a snapshot compacts the
  * chain periodically, so a Dali-scale catalog
  * (~1 M names) commits a single registration in milliseconds instead of
  * re-rendering the world (CatalogProbe / SCALE_NOTES). POSIX rename is
  * NOT used for commits because it silently overwrites, which would drop
  * a racing committer's update.
  *
  * Data-plane reads stay fully distributed: [[readSuper]] is the
  * path-union parquet scan ([[Sources.superfile]]); only name→path
  * metadata round-trips through the driver, exactly as Dali serves
  * metadata while Thor moves the rows.
  */
final class FileCatalog(spark: SparkSession, root: String) {

  private val catalogDir = new Path(root, "_catalog")
  private def fs: FileSystem =
    catalogDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Catalog state: logical files (name → physical path), superfiles
    * (name → ordered sub-file logical names), per-file attributes
    * (description/expire/protect/readonly/column-mapping — the
    * `SetFileDescription`/`SetExpireDays`/`ProtectLogicalFile` family),
    * and file relationships (`AddFileRelationship` tuples).
    */
  private final case class State(files: Map[String, String],
      supers: Map[String, Vector[String]],
      attrs: Map[String, Map[String, String]] = Map.empty,
      rels: Vector[Vector[String]] = Vector.empty)

  // line formats: F\tname\tpath | S\tname\tsub1\tsub2… |
  // A\tname\tkey\tvalue | R\tprimary\tsecondary\tpfields\tsfields\tkind\tcard\tpayload
  // (names/values may not contain tab/newline — enforced at registration)
  private def parse(text: String): State = {
    val lines = text.split("\n").filter(_.nonEmpty)
    State(
      lines.filter(_.startsWith("F\t")).map { l =>
        val p = l.split("\t", -1); p(1) -> p(2)
      }.toMap,
      lines.filter(_.startsWith("S\t")).map { l =>
        val p = l.split("\t", -1); p(1) -> p.drop(2).filter(_.nonEmpty).toVector
      }.toMap,
      lines.filter(_.startsWith("A\t")).map(_.split("\t", -1))
        .groupBy(_(1))
        .map { case (n, rows) => n -> rows.map(p => p(2) -> p(3)).toMap },
      lines.filter(_.startsWith("R\t"))
        .map(_.split("\t", -1).drop(1).toVector).toVector)
  }

  private def render(s: State): String = {
    val fLines = s.files.toSeq.sorted.map { case (n, p) => s"F\t$n\t$p" }
    val sLines = s.supers.toSeq.sortBy(_._1).map { case (n, subs) =>
      (Seq("S", n) ++ subs).mkString("\t")
    }
    val aLines = s.attrs.toSeq.sortBy(_._1).flatMap { case (n, kv) =>
      kv.toSeq.sorted.map { case (k, v) => s"A\t$n\t$k\t$v" }
    }
    val rLines = s.rels.map(r => (Seq("R") ++ r).mkString("\t"))
    (fLines ++ sLines ++ aLines ++ rLines).mkString("\n")
  }

  // ---- operation records (the delta-log command set): each op VALIDATES
  // against and transforms the state it applies to, so a committed delta
  // replays deterministically at load and a lost commit race re-validates
  // against the fresher state. One op per line in a #DELTA record; tag +
  // tab-separated fields (names/values exclude tab/newline by checkName).
  private sealed trait CatOp { def apply(s: State): State }

  private final case class PutFile(name: String, path: String) extends CatOp {
    def apply(s: State): State = s.copy(files = s.files + (name -> path))
  }
  private final case class RemoveFile(name: String) extends CatOp {
    def apply(s: State): State = {
      require(!s.attrs.get(name).exists(_.get("protected").contains("1")),
        s"$name is protected (ProtectLogicalFile) — unprotect before delete")
      s.copy(files = s.files - name,
        supers = s.supers.map { case (k, subs) =>
          k -> subs.filterNot(_ == name) },
        attrs = s.attrs - name)
    }
  }
  private final case class Rename(oldName: String, newName: String,
      allowOverwrite: Boolean) extends CatOp {
    def apply(s: State): State = {
      require(s.files.contains(oldName), s"no such logical file: $oldName")
      require(allowOverwrite || !s.files.contains(newName),
        s"target exists: $newName")
      require(!s.attrs.get(oldName).exists(_.get("protected").contains("1")),
        s"$oldName is protected (ProtectLogicalFile) — unprotect before rename")
      s.copy(files = s.files - oldName + (newName -> s.files(oldName)),
        supers = s.supers.map { case (k, subs) =>
          k -> subs.map(x => if (x == oldName) newName else x)
        },
        attrs = s.attrs.get(oldName) match {
          case Some(a) => s.attrs - oldName + (newName -> a)
          case None => s.attrs
        })
    }
  }
  private final case class PutAttr(name: String, key: String,
      value: String) extends CatOp {
    def apply(s: State): State = {
      require(s.files.contains(name), s"no such logical file: $name")
      s.copy(attrs = s.attrs +
        (name -> (s.attrs.getOrElse(name, Map.empty) + (key -> value))))
    }
  }
  private final case class RemoveAttr(name: String, key: String)
      extends CatOp {
    def apply(s: State): State =
      s.copy(attrs = s.attrs.get(name) match {
        case Some(a) => val a2 = a - key
          if (a2.isEmpty) s.attrs - name else s.attrs + (name -> a2)
        case None => s.attrs
      })
  }
  private final case class AddRel(fields: Vector[String]) extends CatOp {
    def apply(s: State): State = {
      require(s.files.contains(fields(0)),
        s"no such logical file: ${fields(0)}")
      require(s.files.contains(fields(1)),
        s"no such logical file: ${fields(1)}")
      s.copy(rels = s.rels :+ fields)
    }
  }
  private final case class RemoveRel(primary: String, secondary: String)
      extends CatOp {
    def apply(s: State): State = s.copy(rels =
      s.rels.filterNot(r => r(0) == primary && r(1) == secondary))
  }
  private final case class NewSuper(name: String, allowExist: Boolean)
      extends CatOp {
    def apply(s: State): State = {
      require(allowExist || !s.supers.contains(name),
        s"superfile exists: $name")
      if (s.supers.contains(name)) s
      else s.copy(supers = s.supers + (name -> Vector.empty))
    }
  }
  private final case class DelSuper(name: String) extends CatOp {
    def apply(s: State): State = s.copy(supers = s.supers - name)
  }
  private final case class AddSub(superName: String, subName: String)
      extends CatOp {
    def apply(s: State): State = {
      require(s.supers.contains(superName), s"no such superfile: $superName")
      require(s.files.contains(subName), s"no such logical file: $subName")
      val subs = s.supers(superName)
      require(!subs.contains(subName), s"$subName already in $superName")
      s.copy(supers = s.supers + (superName -> (subs :+ subName)))
    }
  }
  private final case class RemoveSub(superName: String, subName: String)
      extends CatOp {
    def apply(s: State): State = {
      require(s.supers.contains(superName), s"no such superfile: $superName")
      s.copy(supers = s.supers +
        (superName -> s.supers(superName).filterNot(_ == subName)))
    }
  }
  private final case class ClearSuper(superName: String) extends CatOp {
    def apply(s: State): State = {
      require(s.supers.contains(superName), s"no such superfile: $superName")
      s.copy(supers = s.supers + (superName -> Vector.empty))
    }
  }
  private final case class SwapSupers(a: String, b: String) extends CatOp {
    def apply(s: State): State = {
      require(s.supers.contains(a) && s.supers.contains(b),
        s"no such superfile: $a / $b")
      s.copy(supers = s.supers + (a -> s.supers(b)) + (b -> s.supers(a)))
    }
  }
  private final case class Promote(names: Vector[String],
      addHead: Option[String], guardDelete: Boolean) extends CatOp {
    def apply(s: State): State = {
      names.foreach(n => require(s.supers.contains(n),
        s"no such superfile: $n"))
      addHead.foreach(h => require(s.files.contains(h),
        s"no such logical file: $h"))
      if (guardDelete) s.supers(names.last).foreach { d =>
        require(!s.attrs.get(d).exists(_.get("protected").contains("1")),
          s"cannot promote: displaced $d is protected")
      }
      val shifted = names.indices.reverse.foldLeft(s.supers) { (acc, i) =>
        acc + (names(i) -> (if (i == 0) addHead.toVector
          else s.supers(names(i - 1))))
      }
      s.copy(supers = shifted)
    }
  }

  private def renderOp(op: CatOp): String = op match {
    case PutFile(n, p) => s"pf\t$n\t$p"
    case RemoveFile(n) => s"rf\t$n"
    case Rename(o, n, ow) => s"mv\t$o\t$n\t${if (ow) 1 else 0}"
    case PutAttr(n, k, v) => s"pa\t$n\t$k\t$v"
    case RemoveAttr(n, k) => s"ra\t$n\t$k"
    case AddRel(f) => ("ar" +: f).mkString("\t")
    case RemoveRel(p, s) => s"rr\t$p\t$s"
    case NewSuper(n, ae) => s"ns\t$n\t${if (ae) 1 else 0}"
    case DelSuper(n) => s"ds\t$n"
    case AddSub(sup, sub) => s"as\t$sup\t$sub"
    case RemoveSub(sup, sub) => s"rs\t$sup\t$sub"
    case ClearSuper(sup) => s"xs\t$sup"
    case SwapSupers(a, b) => s"sw\t$a\t$b"
    case Promote(ns, ah, gd) =>
      (Seq("pr", if (gd) "1" else "0", ah.getOrElse("")) ++ ns).mkString("\t")
  }

  private def parseOp(line: String): CatOp = {
    val f = line.split("\t", -1)
    f(0) match {
      case "pf" => PutFile(f(1), f(2))
      case "rf" => RemoveFile(f(1))
      case "mv" => Rename(f(1), f(2), f(3) == "1")
      case "pa" => PutAttr(f(1), f(2), f(3))
      case "ra" => RemoveAttr(f(1), f(2))
      case "ar" => AddRel(f.drop(1).toVector)
      case "rr" => RemoveRel(f(1), f(2))
      case "ns" => NewSuper(f(1), f(2) == "1")
      case "ds" => DelSuper(f(1))
      case "as" => AddSub(f(1), f(2))
      case "rs" => RemoveSub(f(1), f(2))
      case "xs" => ClearSuper(f(1))
      case "sw" => SwapSupers(f(1), f(2))
      case "pr" => Promote(f.drop(3).toVector,
        Some(f(2)).filter(_.nonEmpty), f(1) == "1")
      case other => sys.error(s"unknown catalog op tag: $other")
    }
  }

  private val manifest = new LogManifest[State, CatOp](spark,
    catalogDir.toString, State(Map.empty, Map.empty), parse, render,
    parseOp, renderOp, (s, op) => op(s),
    s => s.files.size + s.supers.size)

  private def load(): State = manifest.load()

  /** Monotone data-version reading: the manifest's newest committed
    * sequence. Every catalog mutation (promote, superfile swap, delete,
    * spray registration) commits through [[LogManifest]], so folding this
    * into a serving-layer cache key (`Published.withDataVersion`) makes a
    * mid-TTL promote visible to the NEXT request instead of after the TTL.
    * Cheap between commits: chainInfo reads the manifest's advance cache.
    */
  def dataVersion: Long = manifest.chainInfo()._1

  private def commit(ops: State => Seq[CatOp]): Unit = { manifest.commit(ops); () }

  private def checkName(n: String): String = {
    require(n.nonEmpty && !n.exists(c => c == '\t' || c == '\n'),
      s"illegal logical name: '$n'")
    n
  }

  // ---- logical files (File.ecl:126-214) -----------------------------------

  /** FileExists. */
  def exists(name: String): Boolean = load().files.contains(name)

  /** Catalog an existing physical location under a logical name. */
  def register(name: String, path: String): Unit = {
    checkName(name)
    commit(_ => Seq(PutFile(name, path)))
  }

  /** Bulk-catalog many logical names in ONE manifest commit. Snapshot
    * manifests cost O(catalog) to render per commit, so cataloging a
    * large ingest one `register` at a time is O(n²) in total — a
    * 100 k-file build is ~10⁴ s of rendering that this does in one
    * O(n log n) commit (CatalogProbe / SCALE_NOTES has the measurements).
    */
  def registerAll(entries: Seq[(String, String)]): Unit = {
    entries.foreach { case (n, _) => checkName(n) }
    commit(_ => entries.map { case (n, p) => PutFile(n, p) })
  }

  /** Physical directory for a catalog-managed logical file: ECL scope
    * separators (`::`) and other URI-hostile characters sanitize away; an
    * 8-hex content hash of the full name keeps sanitized collisions apart.
    */
  private def physicalDir(name: String): String = {
    val safe = name.replaceAll("[^A-Za-z0-9._-]", "_")
    val h = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(name))
    new Path(new Path(root, "data"), s"$safe-$h").toString
  }

  /** OUTPUT to a logical file: write parquet under the catalog root, then
    * register. The write happens BEFORE the metadata commit, so a crash
    * mid-write never publishes a half-written file.
    */
  def write(name: String, df: DataFrame): Unit = {
    checkName(name)
    require(!getFileAttribute(name, "readonly").contains("1"),
      s"$name is read-only (SetReadOnly) — cannot overwrite")
    val path = physicalDir(name)
    df.write.mode("overwrite").parquet(path)
    register(name, path)
  }

  /** Read a logical file. */
  def read(name: String): DataFrame = {
    val st = load()
    require(st.files.contains(name), s"no such logical file: $name")
    Sources.parquet(spark, st.files(name))
  }

  /** DeleteLogicalFile: drops the catalog entry (and any superfile
    * memberships); physical data is removed only when it lives under the
    * catalog's own data dir.
    */
  def delete(name: String, allowMissing: Boolean = false): Unit = {
    val known = load().files.get(name)
    require(known.nonEmpty || allowMissing, s"no such logical file: $name")
    commit(_ => Seq(RemoveFile(name)))
    known.filter(_.startsWith(new Path(root, "data").toString))
      .foreach(p => fs.delete(new Path(p), true))
  }

  /** RenameLogicalFile: metadata-only (the physical path is unchanged),
    * so renames are O(1) regardless of file size — as in the reference,
    * where rename edits the DFS tree, not the parts.
    */
  def rename(oldName: String, newName: String,
      allowOverwrite: Boolean = false): Unit = {
    checkName(newName)
    commit(_ => Seq(Rename(oldName, newName, allowOverwrite)))
  }

  /** GetLogicalFileAttribute-style info: physical path, total bytes,
    * newest modification time, part count.
    */
  def info(name: String): Option[(String, Long, Long, Int)] =
    load().files.get(name).map { p =>
      val path = new Path(p)
      if (!fs.exists(path)) (p, 0L, 0L, 0)
      else {
        val sum = fs.getContentSummary(path)
        val parts = fs.listStatus(path)
          .count(st => st.getPath.getName.startsWith("part-"))
        val modified = fs.listStatus(path).map(_.getModificationTime)
          .foldLeft(0L)(_ max _)
        (p, sum.getLength, modified, parts)
      }
    }

  /** LogicalFileList with `*`/`?` wildcards. */
  def list(pattern: String = "*"): Seq[String] =
    load().files.keys.toSeq.sorted
      .filter(graft.workflow.Events.wildcardMatch(pattern, _))

  // ---- file attributes (File.ecl:214-330: SetFileDescription,
  // SetExpireDays/ClearExpireDays, ProtectLogicalFile, SetReadOnly,
  // SetColumnMapping — Dali stores these on the DFS tree node) ------------

  /** Generic attribute write (the `GetLogicalFileAttribute` counterpart). */
  def setFileAttribute(name: String, key: String, value: String): Unit = {
    checkName(key)
    require(!value.exists(c => c == '\t' || c == '\n'),
      s"illegal attribute value for $key")
    commit(_ => Seq(PutAttr(name, key, value)))
  }

  def getFileAttribute(name: String, key: String): Option[String] =
    load().attrs.get(name).flatMap(_.get(key))

  private def clearFileAttribute(name: String, key: String): Unit =
    commit(_ => Seq(RemoveAttr(name, key)))

  /** SetFileDescription (`File.ecl:230`). */
  def setFileDescription(name: String, description: String): Unit =
    setFileAttribute(name, "description", description)
  def fileDescription(name: String): String =
    getFileAttribute(name, "description").getOrElse("")

  /** SetColumnMapping (`File.ecl:320`): stored verbatim, like Dali. */
  def setColumnMapping(name: String, mapping: String): Unit =
    setFileAttribute(name, "columnMapping", mapping)

  /** ProtectLogicalFile (`File.ecl:260`): a protected file refuses
    * delete/rename until unprotected — the Dali protect-lock semantics.
    */
  def protectLogicalFile(name: String, protect: Boolean = true): Unit =
    if (protect) setFileAttribute(name, "protected", "1")
    else clearFileAttribute(name, "protected")

  /** SetReadOnly (`File.ecl:246`): refuse catalog-managed overwrite. */
  def setReadOnly(name: String, ro: Boolean = true): Unit =
    if (ro) setFileAttribute(name, "readonly", "1")
    else clearFileAttribute(name, "readonly")

  /** SetExpireDays / ClearExpireDays (`File.ecl:287,300`): mark the file
    * for expiry `days` after its last modification; [[sweepExpired]] is
    * the Dali sweeper that actually removes expired files.
    */
  def setExpireDays(name: String, days: Int): Unit = {
    require(days >= 0, "days must be >= 0")
    setFileAttribute(name, "expireDays", days.toString)
  }
  def clearExpireDays(name: String): Unit =
    clearFileAttribute(name, "expireDays")

  /** The expiry sweeper: delete every non-protected file whose
    * modification time is older than its `expireDays`. Returns the names
    * removed. `now` is injectable for tests.
    */
  def sweepExpired(now: Long = System.currentTimeMillis()): Seq[String] = {
    val st = load()
    val doomed = st.attrs.toSeq.flatMap { case (name, a) =>
      for {
        days <- a.get("expireDays").flatMap(_.toIntOption)
        if !a.get("protected").contains("1")
        if st.files.contains(name)
        (_, _, modified, _) <- info(name)
        if modified > 0 && modified + days * 86400000L <= now
      } yield name
    }.sorted
    doomed.foreach(delete(_, allowMissing = true))
    doomed
  }

  // ---- file relationships (File.ecl:333-420: AddFileRelationship /
  // FileRelationshipList / RemoveFileRelationship) ------------------------

  /** AddFileRelationship: record a primary/secondary key relationship
    * between two logical files (metadata only, like Dali).
    */
  def addFileRelationship(primary: String, secondary: String,
      primaryFields: String, secondaryFields: String,
      kind: String = "link", cardinality: String = "",
      payload: Boolean = false): Unit =
    commit(_ => Seq(AddRel(Vector(primary, secondary, primaryFields,
      secondaryFields, kind, cardinality, if (payload) "1" else "0"))))

  /** FileRelationshipList with `*`/`?` wildcards on both names: rows of
    * (primary, secondary, primaryFields, secondaryFields, kind,
    * cardinality, payload).
    */
  def fileRelationshipList(primaryPattern: String = "*",
      secondaryPattern: String = "*"): Seq[Vector[String]] =
    load().rels.filter(r =>
      graft.workflow.Events.wildcardMatch(primaryPattern, r(0)) &&
        graft.workflow.Events.wildcardMatch(secondaryPattern, r(1)))

  def removeFileRelationship(primary: String, secondary: String): Unit =
    commit(_ => Seq(RemoveRel(primary, secondary)))

  // ---- external (landing-zone) file utilities (File.ecl:455-520:
  // MoveExternalFile / DeleteExternalFile / CreateExternalDirectory) ------

  def moveExternalFile(source: String, dest: String): Unit = {
    val (src, dst) = (new Path(source), new Path(dest))
    fs.mkdirs(dst.getParent)
    require(fs.rename(src, dst), s"move $source -> $dest failed")
  }

  def deleteExternalFile(path: String): Unit =
    fs.delete(new Path(path), false)

  def createExternalDirectory(path: String): Unit =
    fs.mkdirs(new Path(path))

  // ---- superfiles (File.ecl:917-1065) -------------------------------------

  def createSuperFile(name: String, allowExist: Boolean = false): Unit = {
    checkName(name)
    commit(_ => Seq(NewSuper(name, allowExist)))
  }

  def superFileExists(name: String): Boolean = load().supers.contains(name)

  def deleteSuperFile(name: String): Unit =
    commit(_ => Seq(DelSuper(name)))

  /** GetSuperFileSubName list, in position order. */
  def superFileContents(name: String): Seq[String] = {
    val st = load()
    require(st.supers.contains(name), s"no such superfile: $name")
    st.supers(name)
  }

  /** A batch of superfile mutations committed as ONE catalog version —
    * StartSuperFileTransaction/FinishSuperFileTransaction. The ops build a
    * new membership state in memory; readers see either none or all of
    * them, and an exception inside `body` publishes nothing.
    */
  final class Txn private[FileCatalog] {
    private[FileCatalog] var ops = Vector.empty[CatOp]
    private def push(op: CatOp): Unit = ops = ops :+ op

    /** Create inside the transaction — lets a generation layout (its
      * superfiles AND their memberships) publish as one catalog version.
      */
    def createSuperFile(name: String, allowExist: Boolean = false): Unit =
      push(NewSuper(name, allowExist))

    def addSuperFile(superName: String, subName: String): Unit =
      push(AddSub(superName, subName))

    def removeSuperFile(superName: String, subName: String): Unit =
      push(RemoveSub(superName, subName))

    def clearSuperFile(superName: String): Unit =
      push(ClearSuper(superName))

    /** ReplaceSuperFile: atomic old→new swap (`File.ecl:1057`). */
    def replaceSuperFile(superName: String, oldSub: String,
        newSub: String): Unit = {
      removeSuperFile(superName, oldSub)
      addSuperFile(superName, newSub)
    }

    /** SwapSuperFile: exchange the contents of two superfiles
      * (`File.ecl:1046`).
      */
    def swapSuperFile(a: String, b: String): Unit =
      push(SwapSupers(a, b))
  }

  /** Run superfile mutations transactionally (one version commit; op
    * validation happens at commit against the current state, so an
    * invalid op — or a race that invalidates one — publishes NOTHING).
    */
  def transaction(body: Txn => Unit): Unit = {
    val t = new Txn
    body(t) // throws → nothing committed
    commit(_ => t.ops)
  }

  /** PromoteSuperFileList (`File.ecl:1003`): generation rotation — each
    * superfile's contents shift to the NEXT one in the list in a single
    * atomic commit (`daily::gen1 → gen2 → gen3`); the first gets
    * `addHead`'s name (or empty), the last generation's previous contents
    * are displaced and returned. With `deleteTail` the displaced subfiles
    * are also deleted (catalog + managed data), the reference's
    * `deleteFiles` flag — protected files make the whole promote fail
    * BEFORE any mutation, since delete would refuse.
    */
  def promoteSuperFileList(names: Seq[String],
      addHead: Option[String] = None,
      deleteTail: Boolean = false): Seq[String] = {
    require(names.nonEmpty, "promote needs at least one superfile")
    var displaced: Vector[String] = Vector.empty
    commit { s =>
      // displaced is read from the state the commit actually applies to
      // (re-captured on a lost race); the Promote op itself re-validates
      names.foreach(n => require(s.supers.contains(n),
        s"no such superfile: $n"))
      displaced = s.supers(names.last)
      Seq(Promote(names.toVector, addHead, deleteTail))
    }
    if (deleteTail)
      // only delete what no surviving generation still references
      displaced.filterNot(d =>
          load().supers.values.exists(_.contains(d)))
        .foreach(delete(_, allowMissing = true))
    displaced
  }

  /** DeleteOwnedSubFiles (`File.ecl:966` — remove, and with `del` also
    * delete, every subfile of `superName` that no OTHER superfile
    * references). Returns the affected names.
    */
  def deleteOwnedSubFiles(superName: String, del: Boolean = true): Seq[String] = {
    val st = load()
    require(st.supers.contains(superName), s"no such superfile: $superName")
    val owned = st.supers(superName).filter(sub =>
      !st.supers.exists { case (k, subs) =>
        k != superName && subs.contains(sub) })
    transaction { t => owned.foreach(t.removeSuperFile(superName, _)) }
    if (del) owned.foreach(delete(_, allowMissing = true))
    owned
  }

  /** Single-op conveniences (each its own transaction). */
  def addSuperFile(superName: String, subName: String): Unit =
    transaction(_.addSuperFile(superName, subName))
  def removeSuperFile(superName: String, subName: String): Unit =
    transaction(_.removeSuperFile(superName, subName))
  def replaceSuperFile(superName: String, oldSub: String, newSub: String): Unit =
    transaction(_.replaceSuperFile(superName, oldSub, newSub))

  // ---- DFU spray/despray (dali/ft/daft.cpp; File.ecl:551 SprayDelimited,
  // :720 Despray): partitioned import/export between external delimited
  // files and catalog-managed parquet -------------------------------------

  /** SprayDelimited: import an external delimited file as an N-part
    * managed logical file. The layout is DECLARED (ICsvParameters
    * contract — no inference); `parts` maps to the parallelism the DFU
    * would spread across slaves (a repartition, so the write is
    * distributed regardless of how few blocks the source has).
    */
  /** DFU spray source encodings (`File.ecl:551` SprayFixed
    * `sourceRecordSize`-adjacent encoding flag / `:606` SprayVariable's
    * `sourceRowTagOrEncoding`; `type_ebcdic` modifier
    * `system/include/rtlconst.hpp:79`): `ascii` (the DFU default),
    * `utf8`, `ebcdic` (CP037 — the mainframe landing-zone code page), or
    * any JVM charset name. Note the single CP037 wrinkle: the JDK decodes
    * BOTH 0x15 (NL) and 0x25 (LF) to U+000A, so byte 0x25 re-encodes as
    * 0x15 — harmless for record DATA (fixed records carry no newlines)
    * but the reason round-trip specs exclude that one alias byte.
    */
  private def charsetFor(encoding: String): java.nio.charset.Charset =
    encoding.toLowerCase match {
      case "ascii"          => java.nio.charset.StandardCharsets.US_ASCII
      case "utf8" | "utf-8" => UTF_8
      case "ebcdic"         => java.nio.charset.Charset.forName("IBM037")
      case other            => java.nio.charset.Charset.forName(other)
    }

  /** Spark's CSV reader/writer only accepts a small charset allowlist
    * (`CharsetProvider`) — anything else (EBCDIC included) takes the
    * hand-rolled decode path.
    */
  private def sparkCsvNative(cs: java.nio.charset.Charset): Boolean =
    Set("ISO-8859-1", "US-ASCII", "UTF-8", "UTF-16", "UTF-16BE", "UTF-16LE",
      "UTF-32").contains(cs.name().toUpperCase)

  def sprayDelimited(name: String, sourcePath: String,
      schema: org.apache.spark.sql.types.StructType, parts: Int,
      sep: String = ",", header: Boolean = false): Unit = {
    require(parts >= 1, "parts must be >= 1")
    write(name, Sources.csvRead(spark, sourcePath, schema, sep, header)
      .repartition(parts))
  }

  /** SprayVariable (`File.ecl:559`): delimited import with an explicit
    * record terminator — the "variable-length record" DFU mode. Same
    * distributed layout contract as [[sprayDelimited]]. With a non-ASCII
    * `encoding` (e.g. `ebcdic`), both the record split AND the field
    * decode happen in that charset: the terminator's charset bytes drive
    * Hadoop's line splitting, so a CP037 file splits on 0x15, not 0x0A —
    * fully distributed, no per-file decode funnel.
    */
  def sprayVariable(name: String, sourcePath: String,
      schema: org.apache.spark.sql.types.StructType, parts: Int,
      sep: String = ",", terminator: String = "\n",
      header: Boolean = false, encoding: String = "ascii"): Unit = {
    require(parts >= 1, "parts must be >= 1")
    val cs = charsetFor(encoding)
    if (sparkCsvNative(cs)) {
      val reader = spark.read.schema(schema)
        .option("sep", sep).option("header", header)
        .option("encoding", cs.name())
      val withTerm = if (terminator == "\n") reader
        else reader.option("lineSep", terminator)
      write(name, withTerm.csv(sourcePath).repartition(parts))
    } else {
      // EBCDIC (or any other out-of-allowlist charset): split records on
      // the terminator's CHARSET bytes via Hadoop's record delimiter —
      // the split stays distributed and byte-exact (a CP037 file splits
      // on 0x15, never on a 0x0A that may appear inside data) — then
      // decode per partition and hand the decoded lines to the SAME CSV
      // parser, so quoting/typing semantics match the native path.
      val delimBytes = terminator.getBytes(cs)
      require(delimBytes.nonEmpty && delimBytes.forall(b => (b & 0xFF) < 0x80),
        s"terminator encodes to ${delimBytes.length} bytes in ${cs.name()}; " +
          "record-split delimiters must be sub-0x80 bytes " +
          "(Hadoop re-encodes the delimiter as UTF-8)")
      // ISO-8859-1 chars < 0x80 re-encode to the identical UTF-8 bytes,
      // which is how the raw delimiter bytes survive Hadoop's conf round-trip
      val delimStr = new String(delimBytes,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val conf = new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration)
      conf.set("textinputformat.record.delimiter", delimStr)
      val csName = cs.name()
      val lines = spark.sparkContext.newAPIHadoopFile(sourcePath,
          classOf[org.apache.hadoop.mapreduce.lib.input.TextInputFormat],
          classOf[org.apache.hadoop.io.LongWritable],
          classOf[org.apache.hadoop.io.Text], conf)
        .mapPartitions { it =>
          val c = java.nio.charset.Charset.forName(csName)
          it.map { case (_, t) => new String(t.copyBytes(), c) }
        }
      val ds = spark.createDataset(lines)(
        org.apache.spark.sql.Encoders.STRING)
      write(name, spark.read.schema(schema)
        .option("sep", sep).option("header", header).csv(ds)
        .repartition(parts))
    }
  }

  /** SprayFixed (`File.ecl:551`): fixed-width binary record import. The
    * record layout is DECLARED as (field, byteWidth, targetType) slices —
    * the ECL fixed RECORD contract, no inference. The read is DISTRIBUTED:
    * `binaryRecords` splits the source at record boundaries across
    * executors (the DFU's equal-record-count part split), so a 100 TB
    * fixed file sprays in parallel. Field bytes decode as ASCII, trim
    * their pad spaces, and cast to the declared type.
    */
  def sprayFixed(name: String, sourcePath: String,
      fields: Seq[(String, Int, org.apache.spark.sql.types.DataType)],
      parts: Int, encoding: String = "ascii"): Unit = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    require(parts >= 1, "parts must be >= 1")
    require(fields.nonEmpty && fields.forall(_._2 > 0),
      "field widths must be positive")
    val recLen = fields.map(_._2).sum
    val offsets = fields.scanLeft(0)(_ + _._2)
    // Charset is not Serializable — ship the canonical name, resolve once
    // per partition (forName caches, but don't even pay the lookup per row)
    val csName = charsetFor(encoding).name()
    val rows = spark.sparkContext.binaryRecords(sourcePath, recLen)
      .mapPartitions { it =>
        val cs = java.nio.charset.Charset.forName(csName)
        it.map { bytes =>
          org.apache.spark.sql.Row.fromSeq(fields.indices.map { i =>
            new String(bytes, offsets(i), fields(i)._2, cs).trim
          })
        }
      }
    val raw = spark.createDataFrame(rows,
      StructType(fields.map { case (n, _, _) => StructField(n, StringType) }))
    import org.apache.spark.sql.functions.col
    write(name, raw.select(fields.map { case (n, _, t) =>
      col(n).cast(t).as(n) }: _*).repartition(parts))
  }

  /** SprayXml (`File.ecl:647`): XML import over the declared row schema. */
  def sprayXml(name: String, sourcePath: String,
      schema: org.apache.spark.sql.types.StructType, parts: Int,
      rowTag: String = "Row"): Unit = {
    require(parts >= 1, "parts must be >= 1")
    write(name,
      Sources.xmlRead(spark, sourcePath, schema, rowTag).repartition(parts))
  }

  /** SprayJson (`File.ecl:693`): JSON-lines import over the declared
    * schema.
    */
  def sprayJson(name: String, sourcePath: String,
      schema: org.apache.spark.sql.types.StructType, parts: Int): Unit = {
    require(parts >= 1, "parts must be >= 1")
    write(name, Sources.jsonRead(spark, sourcePath, schema).repartition(parts))
  }

  // ---- external-datastore plugin analog (reference `plugins/mysql
  // cassandra sqlite3 …` EMBED datasources): JDBC import/export through
  // Spark's own connector, catalog-integrated like spray/despray ----------

  /** Import a JDBC table/query as a catalog-managed logical file (the
    * EMBED-datasource read direction). `partitionColumn`+`numPartitions`
    * split the source read across executors (Spark's stride-partitioned
    * JDBC scan) — without them the source DB streams through one task, so
    * ALWAYS pass them for big tables. Ad-hoc federated reads that skip the
    * catalog are plain `spark.read.jdbc` one-liners.
    */
  def jdbcImport(name: String, url: String, table: String,
      props: Map[String, String] = Map.empty,
      partitionColumn: Option[(String, Long, Long, Int)] = None): Unit = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    val df = partitionColumn match {
      case Some((colName, lower, upper, parts)) =>
        spark.read.jdbc(url, table, colName, lower, upper, parts, p)
      case None => spark.read.jdbc(url, table, p)
    }
    write(name, df)
  }

  /** Export a logical file to a JDBC table (the write direction). Spark
    * writes partitions concurrently — `batchsize` in `props` tunes the
    * insert batching.
    */
  def jdbcExport(name: String, url: String, table: String,
      props: Map[String, String] = Map.empty,
      mode: String = "overwrite"): Unit = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    read(name).write.mode(mode).jdbc(url, table, p)
  }

  // ---- Copy / RemotePull (File.ecl:759,825): catalog-to-catalog copy -----

  /** Copy (`File.ecl:759`): materialize logical file `name` into `dest`
    * under `destName` — a DISTRIBUTED parquet read→write (the DFU streams
    * parts; no driver row traffic), then a metadata commit in the target
    * catalog. With `asSuperfile` the target also gets a superfile of the
    * same name wrapping the copy (the ASSUPERFILE flag), so downstream
    * generation-rotation workflows can append to it transactionally.
    */
  def copy(name: String, dest: FileCatalog, destName: String,
      asSuperfile: Boolean = false): Unit = {
    dest.write(destName, read(name))
    if (asSuperfile) {
      dest.createSuperFile(destName, allowExist = true)
      dest.transaction { t =>
        t.clearSuperFile(destName)
        t.addSuperFile(destName, destName)
      }
    }
  }

  /** RemotePull (`File.ecl:825`): the pull-initiated direction of [[copy]]
    * — THIS catalog pulls `srcName` from `src`. Same data plane; the
    * distinction (which cluster drives the transfer) is operational in the
    * reference, not semantic.
    */
  def remotePull(src: FileCatalog, srcName: String, destName: String,
      asSuperfile: Boolean = false): Unit =
    src.copy(srcName, this, destName, asSuperfile)

  /** Despray: export a logical file to ONE external delimited file (the
    * DFU's N-parts→single-file direction). The single-part write is the
    * point of despray — use OUTPUT/superfiles for big exports.
    */
  def despray(name: String, destPath: String, sep: String = ",",
      header: Boolean = false, encoding: String = "utf-8"): Unit = {
    val cs = charsetFor(encoding)
    val tmp = new Path(new Path(root, "_despray"),
      java.util.UUID.randomUUID().toString)
    val writer = read(name).coalesce(1).write
      .option("sep", sep).option("header", header)
    (if (sparkCsvNative(cs)) writer.option("encoding", cs.name()) else writer)
      .csv(tmp.toString)
    val part = fs.listStatus(tmp)
      .map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException("despray: no part file"))
    val dest = new Path(destPath)
    fs.delete(dest, false)
    fs.mkdirs(dest.getParent)
    if (sparkCsvNative(cs)) {
      require(fs.rename(part, dest), s"despray: rename to $destPath failed")
    } else {
      // out-of-allowlist target charset (EBCDIC): stream-transcode the
      // UTF-8 part file — despray is the single-file direction by
      // contract, so this is one bounded sequential pass, not a funnel
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(part), UTF_8))
      val out = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(fs.create(dest, true), cs))
      try {
        val buf = new Array[Char](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      } finally { in.close(); out.close() }
    }
    fs.delete(tmp, true)
  }

  /** Superfile read: the path-union parquet scan over current members. */
  def readSuper(name: String): DataFrame = {
    val st = load()
    require(st.supers.contains(name), s"no such superfile: $name")
    val subs = st.supers(name)
    require(subs.nonEmpty, s"superfile $name is empty (schema unknown)")
    Sources.superfile(spark, subs.map(st.files(_)))
  }
}
