package graft

import graft.sources.{FileCatalog, LogManifest}

/** The incremental-log manifest engine: O(delta) commits over the
  * ManifestIo claim protocol — record tagging, compaction,
  * legacy-snapshot interop, crash-claim handling, GC-with-chain, and the
  * concurrent-committer election (SURVEY §2.13 Std.File catalog; the Dali
  * analog is the incrementally-updated SDS tree `dali/base/dadfs.hpp:493`
  * backed by its transaction log).
  */
class LogManifestSpec extends SparkSpec {

  private def newRoot(tag: String): String =
    s"/root/repo/target/graft_io/logmanifest_spec/$tag-${System.nanoTime()}"

  /** Trivial state for engine-level tests: an append-only token vector. */
  private def newManifest(dir: String, compactEvery: Int = 16) =
    new LogManifest[Vector[String], String](spark, dir,
      Vector.empty,
      s => s.split("\n").filter(_.nonEmpty).toVector,
      _.mkString("\n"),
      identity, identity,
      (s, o) => s :+ o,
      _.size,
      compactEvery)

  private def fileText(dir: String, name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, name)), "UTF-8")

  private def versionFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .sorted.toSeq

  test("first commit snapshots; singles append #DELTA records; compaction " +
      "writes a fresh #FULL once replay depth hits the bound") {
    val root = newRoot("compact")
    val m = newManifest(root)
    m.commit(_ => Seq("a"))
    assert(fileText(root, versionFiles(root).head).startsWith("#FULL"),
      "first commit must seed the chain with a snapshot")
    (1 to 10).foreach(i => m.commit(_ => Seq(s"x$i")))
    val afterTen = versionFiles(root)
    assert(afterTen.size == 11)
    assert(fileText(root, afterTen.last).startsWith("#DELTA"),
      "single-op commits must be O(delta) records, not snapshots")
    val (_, base1, since1) = m.chainInfo()
    assert(base1 == 0 && since1 == 10, s"base=$base1 since=$since1")
    // push past the compaction bound (max(16, size/8) = 16 here)
    (11 to 20).foreach(i => m.commit(_ => Seq(s"x$i")))
    val (_, base2, since2) = m.chainInfo()
    assert(base2 > 0, "no compaction snapshot was written")
    assert(since2 < 16, s"replay depth not reset by compaction: $since2")
    assert(fileText(root, f"v$base2%016d.txt").startsWith("#FULL"))
    // a COLD reader (fresh instance, empty cache) replays to the same state
    val cold = newManifest(root)
    assert(cold.load() == m.load())
    assert(cold.load() == "a" +: (1 to 20).map(i => s"x$i").toVector)
  }

  test("legacy untagged VersionedManifest snapshots read unchanged, and " +
      "delta commits stack on top of them") {
    val root = newRoot("legacy")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, f"v${0L}%016d.txt"),
      "a\nb\n#END".getBytes("UTF-8"))
    val m = newManifest(root)
    assert(m.load() == Vector("a", "b"))
    m.commit(_ => Seq("c"))
    assert(fileText(root, f"v${1L}%016d.txt").startsWith("#DELTA"))
    assert(newManifest(root).load() == Vector("a", "b", "c"))
  }

  test("a crashed (unterminated) newest claim is invisible to readers and " +
      "expired committers claim PAST it, never over it") {
    val root = newRoot("crash")
    val m = newManifest(root)
    m.commit(_ => Seq("a"))
    m.commit(_ => Seq("b"))
    // simulate a committer that died mid-stream at v2: claim, no #END
    val crashed = java.nio.file.Paths.get(root, f"v${2L}%016d.txt")
    java.nio.file.Files.write(crashed, "#DELTA\nzzz".getBytes("UTF-8"))
    assert(newManifest(root).load() == Vector("a", "b"),
      "unterminated claim leaked into a read")
    // age it past staleClaimMs so the next committer expires it
    crashed.toFile.setLastModified(System.currentTimeMillis() - 120000L)
    m.commit(_ => Seq("c"))
    assert(java.nio.file.Files.exists(crashed),
      "expired claim must be claimed PAST, not overwritten")
    assert(fileText(root, f"v${3L}%016d.txt").contains("c"))
    assert(newManifest(root).load() == Vector("a", "b", "c"),
      "the crashed claim's junk op replayed into the state")
  }

  test("concurrent committers never lose an op (delta-claim election)") {
    val root = newRoot("race")
    val m = newManifest(root)
    val threads = (1 to 4).map { i =>
      new Thread {
        override def run(): Unit =
          (1 to 10).foreach(j => m.commit(_ => Seq(s"t$i-$j")))
      }
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val expect = (for (i <- 1 to 4; j <- 1 to 10) yield s"t$i-$j").toSet
    assert(m.load().toSet == expect)
    // and a cold reader agrees (the committed CHAIN carries every op)
    assert(newManifest(root).load().toSet == expect)
  }

  test("GC keeps the live chain: after many commits the dir is bounded " +
      "and a cold reader still reconstructs the full state") {
    val root = newRoot("gc")
    val m = newManifest(root)
    (1 to 100).foreach(i => m.commit(_ => Seq(s"x$i")))
    val files = versionFiles(root)
    assert(files.size <= 52, s"catalog dir not pruned: ${files.size}")
    assert(newManifest(root).load() == (1 to 100).map(i => s"x$i").toVector)
  }

  /** Like [[newManifest]] but ops VALIDATE on replay (the FileCatalog
    * situation: a duplicate AddSub throws) — the fixture for the
    * late-delta poisoning hazard.
    */
  private def newValidating(dir: String) =
    new LogManifest[Vector[String], String](spark, dir,
      Vector.empty,
      s => s.split("\n").filter(_.nonEmpty).toVector,
      _.mkString("\n"),
      identity, identity,
      (s, o) => {
        require(!s.contains(o), s"duplicate op $o"); s :+ o
      },
      _.size, 16)

  test("an expired claim that completes its #DELTA late (parent != replay " +
      "cursor) is skipped — a conflicting late op degrades to the " +
      "documented lost commit, never a permanently poisoned chain") {
    val root = newRoot("latedelta")
    val m = newValidating(root)
    m.commit(_ => Seq("a")) // v0: #FULL
    m.commit(_ => Seq("b")) // v1: #DELTA parent 0
    m.commit(_ => Seq("c")) // v2: #DELTA parent 1
    // a committer claimed v3 against the v0 chain, stalled past the claim
    // expiry, and completes NOW — its op re-validates on replay and "b"
    // already exists: without the parent guard every future load() throws
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, f"v${3L}%016d.txt"),
      "#DELTA 0\nb\n#END".getBytes("UTF-8"))
    val cold = newValidating(root)
    assert(cold.load() == Vector("a", "b", "c"),
      "late orphan delta replayed into the chain")
    // the chain stays writable, and the new commit's parent is the replay
    // cursor (2), not the orphan head (3) — a fresh cold reader agrees
    assert(cold.commit(_ => Seq("d")) == Vector("a", "b", "c", "d"))
    assert(newValidating(root).load() == Vector("a", "b", "c", "d"))
  }

  test("pre-parent-tag deltas (no parent in the header) replay " +
      "unconditionally — existing catalogs read unchanged") {
    val root = newRoot("legacydelta")
    val m = newManifest(root)
    m.commit(_ => Seq("a")) // v0: #FULL
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, f"v${1L}%016d.txt"),
      "#DELTA\nb\n#END".getBytes("UTF-8"))
    assert(newManifest(root).load() == Vector("a", "b"))
  }

  test("sustained commit storm vs cold readers: 4 writers committing " +
      "continuously, every fresh-instance list('*') converges inside the " +
      "retry budget and never loses a name") {
    val root = newRoot("storm")
    val cat = new FileCatalog(spark, root)
    val preload = 2000
    cat.registerAll((0 until preload).map(i => f"pre::f$i%05d" -> "t/p"))
    val perWriter = 25
    val writers = (0 until 4).map { w =>
      val wcat = new FileCatalog(spark, root) // own cold cache
      val t = new Thread(() => (0 until perWriter).foreach(i =>
        wcat.register(f"storm::w$w%d_$i%03d", "t/s")), s"spec-storm-$w")
      t.start(); t
    }
    // cold reads race the committers (and their GC of old versions): the
    // retry bound must absorb every listing race — a budget blowout
    // throws out of list() and fails the gate
    var reads = 0
    while (writers.exists(_.isAlive)) {
      val n = new FileCatalog(spark, root).list("*").size
      assert(n >= preload, s"cold read lost names: $n")
      reads += 1
    }
    writers.foreach(_.join(10000))
    val finalNames = new FileCatalog(spark, root).list("*")
    assert(finalNames.size == preload + 4 * perWriter,
      s"committed names lost: ${finalNames.size}")
    info(s"storm gate: $reads cold reads raced ${4 * perWriter} commits")
  }

  test("FileCatalog survives a cold reload across mixed delta ops " +
      "(cascading delete, rename, promote all replay from the log)") {
    val root = newRoot("filecat")
    val cat = new FileCatalog(spark, root)
    (1 to 5).foreach(i => cat.register(s"f$i", s"/tmp/p$i"))
    cat.createSuperFile("gen1"); cat.createSuperFile("gen2")
    cat.addSuperFile("gen1", "f1"); cat.addSuperFile("gen1", "f2")
    cat.addSuperFile("gen2", "f3")
    cat.setFileDescription("f4", "keep me")
    cat.rename("f5", "f5renamed")
    cat.delete("f2") // cascades out of gen1
    cat.promoteSuperFileList(Seq("gen1", "gen2"), addHead = Some("f4"))
    val cold = new FileCatalog(spark, root)
    assert(cold.list("*") == Seq("f1", "f3", "f4", "f5renamed"))
    assert(cold.superFileContents("gen1") == Seq("f4"))
    assert(cold.superFileContents("gen2") == Seq("f1"))
    assert(cold.fileDescription("f4") == "keep me")
  }
}
