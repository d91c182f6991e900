package graft.tools


/** Catalog-scale probe (dev tool): sizes the FileCatalog manifest engine
  * at Dali-like load — 100 k logical files, 1 k superfiles × 100 subs —
  * and measures the latency of each catalog operation class. Physical
  * PARTS are deliberately not manifest entries: a logical file's parts
  * are its parquet files, tracked by the filesystem/format layer, so the
  * manifest scales with logical names (the 1 M-part analog costs nothing
  * here by construction — that is the design point, not a dodge).
  *
  * Usage: `runMain graft.tools.CatalogProbe [nFiles] [nSupers] [subsPer]`
  * Results land in SCALE_NOTES.md with the O() of each operation.
  */
object CatalogProbe {
  def main(args: Array[String]): Unit = {
    val nFiles = if (args.length > 0) args(0).toInt else 100000
    val nSupers = if (args.length > 1) args(1).toInt else 1000
    val subsPer = if (args.length > 2) args(2).toInt else 100
    val spark = graft.Session.engine(4)
    val root = s"/root/repo/target/catalog_probe/${System.nanoTime()}"
    val cat = new graft.sources.FileCatalog(spark, root)
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[catprobe] $label%-52s ${(System.nanoTime() - t0) / 1e6}%9.1f ms")
      r
    }
    def name(i: Int) = f"probe::scope${i / 1000}%03d::f$i%06d"

    timed(s"registerAll $nFiles logical files (ONE commit)") {
      cat.registerAll((0 until nFiles).map(i => name(i) -> s"target/d/$i"))
    }
    timed(s"ONE txn: create $nSupers supers + ${nSupers * subsPer} adds") {
      cat.transaction { t =>
        (0 until nSupers).foreach { g =>
          val sn = f"probe::super$g%04d"
          t.createSuperFile(sn)
          (0 until subsPer).foreach(j =>
            t.addSuperFile(sn, name((g * subsPer + j) % nFiles)))
        }
      }
    }
    // fresh instance: every read below pays a full manifest load (the
    // engine is stateless between calls — no warm in-process cache)
    val cold = new graft.sources.FileCatalog(spark, root)
    val all = timed("list('*') — full load + scan")(cold.list("*"))
    require(all.size == nFiles, s"${all.size}")
    val pre = timed("list('probe::scope012::*') — load + wildcard scan")(
      cold.list("probe::scope012::*"))
    require(pre.size == 1000, s"${pre.size}")
    timed("exists() point probe — load dominated")(
      require(cold.exists(name(nFiles / 2))))
    timed("info() point probe")(cold.info(name(nFiles / 2)))
    // the round-15 headline: a single registration at full catalog is an
    // O(delta) log append, not an O(n) re-render — median over 10
    val singles = (0 until 10).map { i =>
      val t0 = System.nanoTime()
      cat.register(f"probe::single$i%02d", "target/d/x")
      (System.nanoTime() - t0) / 1e6
    }
    println(f"[catprobe] single register() x10 (O(delta) commits)    " +
      f"median ${singles.sorted.apply(5)}%9.1f ms  max ${singles.max}%.1f ms")
    timed("small txn: replace one sub in one super (O(delta))")(
      cat.transaction { t =>
        t.replaceSuperFile("probe::super0500",
          name((500 * subsPer) % nFiles), "probe::single00")
      })
    timed("warm exists() point probe (in-process cache + listing)")(
      require(cat.exists(name(nFiles / 2))))
    timed("superFileContents (one super)")(
      require(cold.superFileContents("probe::super0500").size == subsPer))
    val displaced = timed("promoteSuperFileList over 3 generations")(
      cat.promoteSuperFileList(
        Seq("probe::super0001", "probe::super0002", "probe::super0003"),
        addHead = Some(name(7))))
    println(s"[catprobe]   displaced ${displaced.size} subs")
    implicit val catImpl: graft.sources.FileCatalog = cat
    val mon = new graft.workflow.FileMonitor(new graft.workflow.Events.Scheduler)
    mon.monitorLogicalFileName("probe_ev", "probe::scope099::*", shotCount = 5)
    timed("FileMonitor poll (logical pattern at full catalog)")(mon.poll())
    timed("second poll (steady state, no new matches)")(mon.poll())
    // manifest footprint
    val dir = new java.io.File(s"$root/_catalog")
    val bytes = Option(dir.listFiles()).map(_.map(_.length).max).getOrElse(0L)
    println(f"[catprobe] manifest size: ${bytes / 1e6}%.1f MB " +
      f"($nFiles files, $nSupers supers x $subsPer)")

    // r15 verdict #7 — sustained commit storm vs COLD readers: the GC
    // margin is fixed (gcKeepVersions=32) and a cold reader races
    // committers under a 50-retry bound; this is the pathological case
    // (Dali serves reads from the in-memory SDS tree precisely to avoid
    // this race class — dali/base/dadfs.hpp:493). Four writers commit
    // continuously while a fresh-instance reader cold-loads in a loop;
    // every read must converge inside the retry budget (a budget blowout
    // throws and fails the probe), and the latency distribution is the
    // SCALE_NOTES row.
    val stormSecs = if (args.length > 3) args(3).toInt else 10
    @volatile var stop = false
    val commits = new java.util.concurrent.atomic.AtomicLong
    val writers = (0 until 4).map { w =>
      val wcat = new graft.sources.FileCatalog(spark, root)
      val t = new Thread(() => {
        var i = 0
        while (!stop) {
          wcat.register(f"probe::storm::w$w%d_$i%06d", "target/d/s")
          commits.incrementAndGet(); i += 1
        }
      }, s"storm-writer-$w")
      t.setDaemon(true); t.start(); t
    }
    val lat = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = System.currentTimeMillis()
    while (System.currentTimeMillis() - t0 < stormSecs * 1000L) {
      val fresh = new graft.sources.FileCatalog(spark, root) // cold cache
      val s = System.nanoTime()
      val n = fresh.list("*").size
      lat += (System.nanoTime() - s) / 1e6
      require(n >= nFiles, s"cold read lost names: $n < $nFiles")
    }
    stop = true
    writers.foreach(_.join(10000))
    val ls = lat.sorted
    println(f"[catprobe] commit-storm ${stormSecs}s: 4 writers, " +
      f"${commits.get} commits, ${lat.size} cold list('*') reads — " +
      f"p50 ${ls(ls.size / 2)}%.0f ms  " +
      f"p99 ${ls(((ls.size - 1) * 0.99).toInt)}%.0f ms  " +
      f"max ${ls.last}%.0f ms (every read inside the retry budget)")
    spark.stop()
  }
}
