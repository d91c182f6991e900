package graft

import graft.sources.Store

/** Std.System.Store analog: namespaced KV semantics and the
  * concurrent-writer atomicity contract on the shared manifest engine
  * ([[graft.sources.LogManifest]]).
  */
class StoreSpec extends SparkSpec {

  private def newRoot(tag: String): String =
    java.nio.file.Paths.get(
      s"target/graft_io/store_spec_$tag-${System.nanoTime()}")
      .toAbsolutePath.toString

  private def newStore(tag: String): Store = new Store(spark, newRoot(tag))

  private def storeDir(root: String) = java.nio.file.Paths.get(root, "_store")

  private def versionFiles(root: String): Seq[String] =
    Option(storeDir(root).toFile.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .sorted.toSeq

  private def fileText(root: String, name: String): String =
    new String(java.nio.file.Files.readAllBytes(storeDir(root).resolve(name)),
      "UTF-8")

  /** Every (namespace, key) → value the store answers. */
  private def contents(st: Store): Map[(String, String), String] =
    st.listNamespaces().flatMap(ns =>
      st.getAll(ns).map { case (k, v) => (ns, k) -> v }).toMap

  /** A `_store` dir as the full-snapshot engine wrote it: one untagged,
    * `#END`-terminated `K\t<ns>\t<key>\t<base64 value>` snapshot at v0.
    */
  private def writeLegacySnapshot(root: String,
      kvs: Seq[((String, String), String)]): Unit = {
    java.nio.file.Files.createDirectories(storeDir(root))
    val body = kvs.sortBy(_._1).map { case ((ns, k), v) =>
      s"K\t$ns\t$k\t" + java.util.Base64.getEncoder.encodeToString(
        v.getBytes("UTF-8"))
    }.mkString("\n")
    java.nio.file.Files.write(storeDir(root).resolve(f"v${0L}%016d.txt"),
      (body + "\n#END").getBytes("UTF-8"))
  }

  test("set/get/delete/list follow the WsStore response contracts") {
    val st = newStore("crud")
    assert(st.get("app", "missing").isEmpty) // was_found=false
    st.set("app", "alpha", "1")
    st.set("app", "alpha", "2")
    assert(st.get("app", "alpha").contains("2")) // upsert
    st.set("app", "beta", "b")
    st.set("jobs", "run", "ok")
    assert(st.listKeys("app") == Seq("alpha", "beta"))
    assert(st.getAll("app") == Map("alpha" -> "2", "beta" -> "b"))
    assert(st.listNamespaces() == Seq("app", "jobs"))
    assert(st.delete("app", "alpha")) // was_deleted=true
    assert(!st.delete("app", "alpha")) // second delete: key gone
    assert(st.get("app", "alpha").isEmpty)
    // values may carry tabs/newlines (base64 in the manifest)
    st.set("app", "raw", "a\tb\nc")
    assert(st.get("app", "raw").contains("a\tb\nc"))
    assert(st.deleteNamespace("app"))
    assert(!st.deleteNamespace("app"))
    assert(st.listNamespaces() == Seq("jobs"))
    assertThrows[IllegalArgumentException] { st.set("bad\tns", "k", "v") }
  }

  test("setExclusive elects exactly one winner under concurrency") {
    val st = newStore("race")
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map { i =>
      new Thread {
        override def run(): Unit =
          if (st.setExclusive("race", "leader", s"writer$i"))
            wins.incrementAndGet()
      }
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins.get() == 1)
    // the stored value is the winner's — some writerN, never clobbered
    val v = st.get("race", "leader").get
    assert(v.startsWith("writer"))
    // losers' values never landed: a second exclusive round still fails
    assert(!st.setExclusive("race", "leader", "late"))
  }

  test("concurrent writers to distinct keys never lose an update") {
    val st = newStore("many")
    val threads = (1 to 4).map { i =>
      new Thread {
        override def run(): Unit =
          (1 to 5).foreach(j => st.set(s"ns$i", s"k$j", s"v$i-$j"))
      }
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(st.listNamespaces() == Seq("ns1", "ns2", "ns3", "ns4"))
    (1 to 4).foreach { i =>
      assert(st.getAll(s"ns$i") ==
        (1 to 5).map(j => s"k$j" -> s"v$i-$j").toMap)
    }
    // the read-back table surface
    assert(st.asDataFrame.count() == 20)
  }

  test("a single set on a 200-key store commits a #DELTA of one record, " +
      "not a snapshot of the whole store") {
    val root = newRoot("delta")
    writeLegacySnapshot(root,
      (1 to 200).map(i => ("cfg", f"k$i%03d") -> s"v$i"))
    val st = new Store(spark, root)
    assert(st.listKeys("cfg").size == 200)
    st.set("cfg", "k007", "changed")
    val newest = versionFiles(root).last
    val lines = fileText(root, newest).split("\n").toSeq
    assert(lines.head.startsWith("#DELTA"),
      s"a single set rewrote the store: ${lines.take(2)}")
    assert(lines.tail.filterNot(_ == "#END") == Seq(
      "P\tcfg\tk007\t" + java.util.Base64.getEncoder.encodeToString(
        "changed".getBytes("UTF-8"))),
      s"expected one Put record, got ${lines.size - 2} lines")
    assert(st.get("cfg", "k007").contains("changed"))
    assert(st.listKeys("cfg").size == 200)
  }

  test("a _store dir in the untagged snapshot format reads unchanged, and " +
      "set/delete/setExclusive stack on it") {
    val root = newRoot("legacy")
    writeLegacySnapshot(root, Seq(("app", "a") -> "1",
      ("app", "tabbed") -> "x\ty\nz", ("jobs", "run") -> "ok"))
    val st = new Store(spark, root)
    assert(st.getAll("app") == Map("a" -> "1", "tabbed" -> "x\ty\nz"))
    assert(st.listNamespaces() == Seq("app", "jobs"))
    st.set("app", "b", "2")
    assert(st.delete("app", "a"))
    assert(!st.delete("app", "a"))
    assert(!st.setExclusive("jobs", "run", "late"))
    assert(st.setExclusive("jobs", "next", "n"))
    // every write after the snapshot is a delta record on top of it
    val files = versionFiles(root)
    assert(files.head == f"v${0L}%016d.txt" &&
      files.tail.forall(f => fileText(root, f).startsWith("#DELTA")),
      s"writes did not stack on the legacy snapshot: $files")
    val expect = Map(("app", "b") -> "2", ("app", "tabbed") -> "x\ty\nz",
      ("jobs", "run") -> "ok", ("jobs", "next") -> "n")
    assert(contents(st) == expect)
    assert(contents(new Store(spark, root)) == expect)
  }

  test("a fresh Store instance over the same root sees every committed key") {
    val root = newRoot("fresh")
    val st = new Store(spark, root)
    // enough commits to cross compaction, so the chain holds snapshots
    // and deltas; deletes and a namespace drop replay too
    (1 to 40).foreach(i => st.set(s"ns${i % 3}", s"k$i", s"v$i"))
    (1 to 40 by 5).foreach(i => assert(st.delete(s"ns${i % 3}", s"k$i")))
    assert(st.setExclusive("lock", "leader", "me"))
    assert(st.deleteNamespace("ns0"))
    val expect = (1 to 40).filter(i => i % 5 != 1 && i % 3 != 0)
      .map(i => (s"ns${i % 3}", s"k$i") -> s"v$i").toMap +
      (("lock", "leader") -> "me")
    assert(contents(st) == expect)
    val fresh = new Store(spark, root)
    assert(contents(fresh) == expect)
    assert(fresh.get("ns0", "k3").isEmpty)
    assert(fresh.asDataFrame.collect().toSeq == st.asDataFrame.collect().toSeq)
  }
}
