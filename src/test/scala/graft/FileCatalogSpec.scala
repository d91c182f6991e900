package graft

import graft.sources.FileCatalog
import org.apache.spark.sql.functions._

/** Std.File catalog semantics (ref `ecllibrary/std/File.ecl:126-1065`):
  * logical-file ops, superfile membership, transactional swap atomicity,
  * and the versioned-manifest commit protocol.
  */
class FileCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def newCat(tag: String) = new FileCatalog(spark,
    s"/root/repo/target/graft_io/filecat_spec/$tag-${System.nanoTime()}")

  test("logical files: write/exists/read/rename/list/delete/info") {
    val cat = newCat("basic")
    cat.write("a::one", Seq((1, "x"), (2, "y")).toDF("k", "v"))
    cat.write("a::two", Seq((3, "z")).toDF("k", "v"))
    assert(cat.exists("a::one") && !cat.exists("a::three"))
    assert(cat.read("a::one").count() == 2)
    assert(cat.list("a::*") == Seq("a::one", "a::two"))
    assert(cat.list("*::t?o") == Seq("a::two"))
    val Some((_, bytes, modified, parts)) = cat.info("a::one")
    assert(bytes > 0 && modified > 0 && parts >= 1)
    // rename is metadata-only; old name gone, data readable under new
    cat.rename("a::one", "a::uno")
    assert(!cat.exists("a::one") && cat.read("a::uno").count() == 2)
    intercept[IllegalArgumentException] { cat.rename("a::gone", "x") }
    cat.delete("a::uno")
    assert(!cat.exists("a::uno"))
    intercept[IllegalArgumentException] { cat.read("a::uno") }
    cat.delete("a::uno", allowMissing = true) // idempotent with the flag
  }

  test("superfiles: membership ops + path-union read") {
    val cat = newCat("super")
    cat.write("s1", Seq(1, 2).toDF("k"))
    cat.write("s2", Seq(3).toDF("k"))
    cat.createSuperFile("all")
    cat.addSuperFile("all", "s1")
    cat.addSuperFile("all", "s2")
    assert(cat.superFileContents("all") == Seq("s1", "s2"))
    assert(cat.readSuper("all").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    cat.removeSuperFile("all", "s1")
    assert(cat.readSuper("all").as[Int].collect().toSeq == Seq(3))
    // deleting a logical file also drops its superfile memberships
    cat.delete("s2")
    assert(cat.superFileContents("all").isEmpty)
    // DeleteSuperFile (File.ecl, deleteSub defaults to false): the
    // superfile goes, its former subfiles stay
    cat.addSuperFile("all", "s1")
    cat.deleteSuperFile("all")
    assert(!cat.superFileExists("all") && cat.exists("s1"))
  }

  test("registerAll: ONE commit, all-or-nothing — an illegal name anywhere " +
      "in the batch publishes nothing; Txn.createSuperFile composes with " +
      "membership adds in one version") {
    val cat = newCat("bulk")
    // illegal name (tab) in the middle: names validate BEFORE the commit
    intercept[IllegalArgumentException] {
      cat.registerAll(Seq("bulk::a" -> "p1", "bad\tname" -> "p2",
        "bulk::c" -> "p3"))
    }
    assert(!cat.exists("bulk::a") && !cat.exists("bulk::c"),
      "a failed bulk registration leaked entries")
    cat.registerAll((0 until 5).map(i => s"bulk::f$i" -> s"p$i"))
    assert(cat.list("bulk::*").size == 5)
    // a generation layout (supers + memberships) publishes as ONE version
    cat.transaction { t =>
      t.createSuperFile("bulk::gen1")
      t.addSuperFile("bulk::gen1", "bulk::f0")
      t.addSuperFile("bulk::gen1", "bulk::f1")
    }
    assert(cat.superFileContents("bulk::gen1") == Seq("bulk::f0", "bulk::f1"))
    // and a failed composed txn publishes neither the super nor the adds
    intercept[IllegalArgumentException] {
      cat.transaction { t =>
        t.createSuperFile("bulk::gen2")
        t.addSuperFile("bulk::gen2", "bulk::missing") // no such logical file
      }
    }
    assert(!cat.superFileExists("bulk::gen2"))
  }

  test("a failed transaction publishes NOTHING (atomic swap contract)") {
    val cat = newCat("atomic")
    cat.write("g1", Seq(1).toDF("k"))
    cat.write("g2", Seq(2).toDF("k"))
    cat.createSuperFile("live")
    cat.addSuperFile("live", "g1")
    // the swap dies midway through the op list — remove applied in memory,
    // add never reached; the catalog must still show the original state
    intercept[RuntimeException] {
      cat.transaction { t =>
        t.removeSuperFile("live", "g1")
        throw new RuntimeException("crash before commit")
      }
    }
    assert(cat.superFileContents("live") == Seq("g1"))
    // a bad op anywhere in the batch rolls back the WHOLE batch at commit
    intercept[IllegalArgumentException] {
      cat.transaction { t =>
        t.removeSuperFile("live", "g1")
        t.addSuperFile("live", "no_such_file")
      }
    }
    assert(cat.superFileContents("live") == Seq("g1"))
    // and the successful swap applies both ops in one version
    cat.transaction(_.replaceSuperFile("live", "g1", "g2"))
    assert(cat.superFileContents("live") == Seq("g2"))
    assert(cat.readSuper("live").as[Int].collect().toSeq == Seq(2))
  }

  test("swapSuperFile exchanges two superfiles in one commit") {
    val cat = newCat("swap")
    cat.write("d1", Seq(1).toDF("k"))
    cat.write("d2", Seq(2).toDF("k"))
    cat.createSuperFile("blue"); cat.createSuperFile("green")
    cat.addSuperFile("blue", "d1"); cat.addSuperFile("green", "d2")
    cat.transaction(_.swapSuperFile("blue", "green"))
    assert(cat.superFileContents("blue") == Seq("d2"))
    assert(cat.superFileContents("green") == Seq("d1"))
  }

  test("spray imports N parts; despray round-trips to one external file") {
    import org.apache.spark.sql.types._
    val cat = newCat("spray")
    val ext = s"/root/repo/target/graft_io/spray_src-${System.nanoTime()}"
    Seq((1, "alpha"), (2, "beta"), (3, "gamma"), (4, "delta"))
      .toDF("k", "v").coalesce(1).write.csv(ext)
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("v", StringType)))
    cat.sprayDelimited("imported", ext, schema, parts = 3)
    // partitioned managed parquet, catalog-registered, content intact
    assert(cat.read("imported").rdd.getNumPartitions == 3)
    assert(cat.read("imported").as[(Int, String)].collect().sorted.toSeq ==
      Seq((1, "alpha"), (2, "beta"), (3, "gamma"), (4, "delta")))
    // despray back out to a single external file
    val out = s"/root/repo/target/graft_io/despray-${System.nanoTime()}/out.csv"
    cat.despray("imported", out)
    val lines = scala.io.Source.fromFile(out).getLines().toSeq.sorted
    assert(lines == Seq("1,alpha", "2,beta", "3,gamma", "4,delta"))
  }

  test("EBCDIC: CP037 decode/encode round-trips the full byte range " +
      "(except the documented 0x25 NL/LF alias)") {
    val cs = java.nio.charset.Charset.forName("IBM037")
    // decode is total: every byte maps to exactly one char…
    val allBytes = (0 to 255).map(_.toByte).toArray
    val decoded = new String(allBytes, cs)
    assert(decoded.length == 256)
    // …and encode(decode(b)) == b for every byte except 0x25, which the
    // JDK aliases to the same U+000A as 0x15 (the CP037 NL/LF wrinkle —
    // see FileCatalog.charsetFor's scaladoc)
    val back = decoded.getBytes(cs)
    assert(back.length == 256)
    val diffs = (0 until 256).filter(i => back(i) != allBytes(i))
    assert(diffs == Seq(0x25), s"unexpected non-roundtrip bytes: $diffs")
    // string-level round-trip over the printable record-data range — the
    // bytes a fixed mainframe record actually carries
    val printable = (' ' to '~').mkString
    assert(new String(printable.getBytes(cs), cs) == printable)
  }

  test("EBCDIC sprayVariable: CP037 file splits on the CP037 terminator " +
      "and decodes distributed; despray re-encodes") {
    import org.apache.spark.sql.types._
    val cs = java.nio.charset.Charset.forName("IBM037")
    val cat = newCat("ebcdic")
    val extDir = new java.io.File(
      s"/root/repo/target/graft_io/ebcdic_var-${System.nanoTime()}")
    extDir.mkdirs()
    // CP037-encoded delimited file: ',' = 0x6B, '\n' = 0x15 — NOT ASCII
    val text = "1,alpha\n2,beta\n3,gamma\n"
    val f = new java.io.File(extDir, "src.ebc")
    java.nio.file.Files.write(f.toPath, text.getBytes(cs))
    // prove the fixture really is EBCDIC (no 0x0A, no ASCII comma)
    val raw = java.nio.file.Files.readAllBytes(f.toPath)
    assert(!raw.contains(0x0A.toByte) && raw.contains(0x15.toByte))
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("v", StringType)))
    cat.sprayVariable("ebc_var", f.getAbsolutePath, schema, parts = 2,
      encoding = "ebcdic")
    assert(cat.read("ebc_var").as[(Int, String)].collect().sorted.toSeq ==
      Seq((1, "alpha"), (2, "beta"), (3, "gamma")))
    // despray back out AS EBCDIC: the external file must byte-match a
    // CP037 rendering, not a UTF-8 one
    val out = s"${extDir.getAbsolutePath}/out.ebc"
    cat.despray("ebc_var", out, encoding = "ebcdic")
    val outBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    val outText = new String(outBytes, cs)
    assert(outText.linesIterator.toSeq.sorted ==
      Seq("1,alpha", "2,beta", "3,gamma"))
    assert(!outBytes.contains(0x0A.toByte), "despray wrote ASCII newlines")
  }

  test("concurrent committers never lose an update (version race)") {
    val cat = newCat("race")
    cat.write("f", Seq(1).toDF("k"))
    val threads = (1 to 4).map { i =>
      new Thread {
        override def run(): Unit =
          (1 to 5).foreach(j => cat.register(s"t$i::$j", s"/tmp/p$i$j"))
      }
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // all 20 registrations survive: create-exclusive commits serialize
    assert(cat.list("t*").size == 20)
  }

  test("copy / remotePull move logical files across catalog roots") {
    val a = newCat("copy-a")
    val b = newCat("copy-b")
    a.write("src", Seq((1, "x"), (2, "y")).toDF("k", "v"))
    a.copy("src", b, "plain")
    assert(b.read("plain").orderBy("k").as[(Int, String)].collect().toSeq ==
      Seq((1, "x"), (2, "y")))
    // pull direction + ASSUPERFILE wrapper
    b.remotePull(a, "src", "wrapped", asSuperfile = true)
    assert(b.superFileExists("wrapped"))
    assert(b.superFileContents("wrapped") == Seq("wrapped"))
    assert(b.readSuper("wrapped").count() == 2)
    // the copy is physical: mutating the source doesn't change the copy
    a.write("src", Seq((9, "z")).toDF("k", "v"))
    assert(b.read("plain").count() == 2)
  }

  test("sprayXml / sprayJson import over declared schemas") {
    import org.apache.spark.sql.types._
    val cat = newCat("sprayxj")
    val df = Seq((1, "alpha"), (2, "beta")).toDF("k", "v")
    val xmlPath = s"/root/repo/target/graft_io/filecat_spec/sxml-${System.nanoTime()}"
    val jsonPath = s"/root/repo/target/graft_io/filecat_spec/sjson-${System.nanoTime()}"
    graft.sources.Sources.xmlWrite(df, xmlPath)
    graft.sources.Sources.jsonWrite(df, jsonPath)
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("v", StringType)))
    cat.sprayXml("from_xml", xmlPath, schema, parts = 2)
    cat.sprayJson("from_json", jsonPath, schema, parts = 2)
    assert(cat.read("from_xml").orderBy("k").as[(Int, String)].collect().toSeq ==
      Seq((1, "alpha"), (2, "beta")))
    assert(cat.read("from_json").orderBy("k").as[(Int, String)].collect().toSeq ==
      Seq((1, "alpha"), (2, "beta")))
  }

  test("jdbcExport / jdbcImport roundtrip through embedded Derby") {
    // Derby ships with Spark (metastore dep) — a real in-JVM JDBC engine,
    // so the plugin-analog surface is gated end-to-end, not stubbed
    val cat = newCat("jdbc")
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    cat.write("src", Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("k", "v"))
    cat.jdbcExport("src", url, "exported", props)
    cat.jdbcImport("back", url, "exported", props)
    assert(cat.read("back").orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")))
    // stride-partitioned import path
    cat.jdbcImport("back4", url, "exported", props,
      partitionColumn = Some(("k", 1L, 3L, 2)))
    assert(cat.read("back4").count() == 3)
  }

  test("file attributes: description/columnMapping round-trip; protect " +
      "blocks delete+rename; readonly blocks overwrite; rename moves attrs") {
    val cat = newCat("attrs")
    cat.write("f", Seq((1, "x")).toDF("k", "v"))
    cat.setFileDescription("f", "the daily snapshot")
    cat.setColumnMapping("f", "k{set(unsignedSwap)}")
    assert(cat.fileDescription("f") == "the daily snapshot")
    assert(cat.getFileAttribute("f", "columnMapping")
      .contains("k{set(unsignedSwap)}"))
    cat.protectLogicalFile("f")
    intercept[IllegalArgumentException] { cat.delete("f") }
    intercept[IllegalArgumentException] { cat.rename("f", "g") }
    cat.protectLogicalFile("f", protect = false)
    cat.setReadOnly("f")
    intercept[IllegalArgumentException] {
      cat.write("f", Seq((2, "y")).toDF("k", "v"))
    }
    cat.setReadOnly("f", ro = false)
    cat.rename("f", "g") // attrs travel with the rename
    assert(cat.fileDescription("g") == "the daily snapshot")
    cat.delete("g")
    assert(!cat.exists("g"))
  }

  test("expiry: sweepExpired removes stale non-protected files only") {
    val cat = newCat("expire")
    cat.write("old", Seq(1).toDF("k"))
    cat.write("fresh", Seq(2).toDF("k"))
    cat.write("locked", Seq(3).toDF("k"))
    cat.setExpireDays("old", 7)
    cat.setExpireDays("fresh", 7000) // far future
    cat.setExpireDays("locked", 7)
    cat.protectLogicalFile("locked")
    // pretend 30 days pass
    val future = System.currentTimeMillis() + 30L * 86400000L
    assert(cat.sweepExpired(future) == Seq("old"))
    assert(!cat.exists("old") && cat.exists("fresh") && cat.exists("locked"))
    // ClearExpireDays makes a stale file immortal again
    cat.protectLogicalFile("locked", protect = false)
    cat.clearExpireDays("locked")
    assert(cat.sweepExpired(future).isEmpty && cat.exists("locked"))
  }

  test("PromoteSuperFileList rotates generations atomically; deleteTail " +
      "removes only unreferenced displaced files") {
    val cat = newCat("promote")
    Seq("d1", "d2", "d3").foreach(n =>
      cat.write(n, Seq(n).toDF("v")))
    Seq("gen1", "gen2", "gen3").foreach(n =>
      cat.createSuperFile(n, allowExist = true))
    cat.addSuperFile("gen1", "d1")
    cat.addSuperFile("gen2", "d2")
    cat.addSuperFile("gen3", "d3")
    cat.write("d0", Seq("d0").toDF("v"))
    // rotate: gen3 ← gen2 ← gen1 ← d0; d3 displaced and deleted
    val displaced = cat.promoteSuperFileList(Seq("gen1", "gen2", "gen3"),
      addHead = Some("d0"), deleteTail = true)
    assert(displaced == Seq("d3"))
    assert(cat.superFileContents("gen1") == Seq("d0"))
    assert(cat.superFileContents("gen2") == Seq("d1"))
    assert(cat.superFileContents("gen3") == Seq("d2"))
    assert(!cat.exists("d3"), "displaced tail must be deleted")
    // a second rotate without addHead empties gen1; d2 still referenced
    // by NOTHING after displacement → deleted
    val d2 = cat.promoteSuperFileList(Seq("gen1", "gen2", "gen3"),
      deleteTail = true)
    assert(d2 == Seq("d2") && !cat.exists("d2"))
    assert(cat.superFileContents("gen1").isEmpty)
    assert(cat.superFileContents("gen2") == Seq("d0"))
    assert(cat.superFileContents("gen3") == Seq("d1"))
  }

  test("deleteOwnedSubFiles spares subfiles shared with other superfiles") {
    val cat = newCat("owned")
    Seq("a", "b").foreach(n => cat.write(n, Seq(n).toDF("v")))
    cat.createSuperFile("s1"); cat.createSuperFile("s2")
    cat.addSuperFile("s1", "a")
    cat.addSuperFile("s1", "b")
    cat.addSuperFile("s2", "b") // b is shared
    assert(cat.deleteOwnedSubFiles("s1") == Seq("a"))
    assert(!cat.exists("a") && cat.exists("b"))
    assert(cat.superFileContents("s1") == Seq("b"))
    assert(cat.superFileContents("s2") == Seq("b"))
  }

  test("file relationships record, list by wildcard, and remove") {
    val cat = newCat("rels")
    Seq("person", "addr", "acct").foreach(n =>
      cat.write(n, Seq(1).toDF("k")))
    cat.addFileRelationship("person", "addr", "id", "person_id")
    cat.addFileRelationship("person", "acct", "id", "owner_id",
      cardinality = "1:M", payload = true)
    assert(cat.fileRelationshipList().size == 2)
    assert(cat.fileRelationshipList(secondaryPattern = "ac*").head ==
      Vector("person", "acct", "id", "owner_id", "link", "1:M", "1"))
    cat.removeFileRelationship("person", "addr")
    assert(cat.fileRelationshipList().map(_(1)) == Seq("acct"))
  }

  test("external file utilities: create dir, move, delete") {
    val cat = newCat("ext")
    val base = s"/root/repo/target/graft_io/ext_util-${System.nanoTime()}"
    cat.createExternalDirectory(s"$base/in")
    val f = new java.io.File(s"$base/in/drop.csv")
    java.nio.file.Files.write(f.toPath, "1,a\n".getBytes)
    cat.moveExternalFile(s"$base/in/drop.csv", s"$base/archive/drop.csv")
    assert(!f.exists() &&
      new java.io.File(s"$base/archive/drop.csv").exists())
    cat.deleteExternalFile(s"$base/archive/drop.csv")
    assert(!new java.io.File(s"$base/archive/drop.csv").exists())
  }

  test("manifest GC bounds catalog-dir growth; state intact") {
    val root = s"/root/repo/target/graft_io/filecat_spec/gc-${System.nanoTime()}"
    val cat = new FileCatalog(spark, root)
    (1 to 50).foreach(i => cat.register(s"f$i", s"/tmp/p$i"))
    // full state lives in the newest manifest — nothing lost to pruning
    assert(cat.list("f*").size == 50)
    // every registration was one version; only the recent window survives
    val versions = new java.io.File(s"$root/_catalog").listFiles()
      .count(_.getName.endsWith(".txt"))
    assert(versions <= 34, s"catalog dir not pruned: $versions manifests")
  }
}
