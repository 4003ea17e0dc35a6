package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Write-once cache plumbing: content-fingerprinted tags (a regenerated
  * corpus can never serve a stale artifact), invalid-dest repair, stale
  * orphan sweeping, and superseded-fingerprint cleanup.
  */
class LocalFsSpec extends AnyFunSuite {

  private def mkTmp(): File = Files.createTempDirectory("graft_fs").toFile

  test("sourceFingerprint changes on regeneration and rejects missing paths") {
    val dir = mkTmp()
    val f = new File(dir, "t.parquet")
    Files.writeString(f.toPath, "aaa")
    val fp1 = LocalFs.sourceFingerprint(f)
    Files.writeString(f.toPath, "aaaa")
    val fp2 = LocalFs.sourceFingerprint(f)
    assert(fp1 != fp2)
    // directories fingerprint their contents recursively
    assert(LocalFs.sourceFingerprint(dir) == LocalFs.sourceFingerprint(dir))
    // a missing source must fail loudly, not fingerprint as a constant
    intercept[IllegalArgumentException] {
      LocalFs.sourceFingerprint(new File(dir, "nope.parquet"))
    }
  }

  test("cachePath changes with the source and sweeps superseded siblings") {
    val dir = mkTmp()
    val src = new File(dir, "t.parquet")
    Files.writeString(src.toPath, "v1")
    val p1 = LocalFs.cachePath("graft_fs_spec_", dir.getPath, src)
    new File(p1).mkdirs()
    Files.writeString(new File(p1, "artifact").toPath, "old")
    Files.writeString(src.toPath, "v2-longer") // regenerate in place
    val p2 = LocalFs.cachePath("graft_fs_spec_", dir.getPath, src)
    assert(p1 != p2)
    // the v1 artifact is superseded — cachePath removed it
    assert(!new File(p1).exists(), "superseded cache dir should be swept")
  }

  test("publishDir repairs an invalid dest and sweeps stale tmp orphans") {
    val root = mkTmp()
    val dest = new File(root, "cache")
    // crashed legacy writer: dest exists without a complete marker
    dest.mkdirs()
    Files.writeString(new File(dest, "partial").toPath, "junk")
    // stale orphan from a crashed session (old mtime → presumed dead)
    val orphan = new File(root, "cache.tmp.dead")
    orphan.mkdirs()
    orphan.setLastModified(System.currentTimeMillis() - 13L * 60 * 60 * 1000)
    val tmp = new File(root, "cache.tmp.live")
    tmp.mkdirs()
    Files.writeString(new File(tmp, "_SUCCESS").toPath, "")
    Files.writeString(new File(tmp, "data").toPath, "good")
    assert(LocalFs.publishDir(tmp, dest,
      destValid = () => new File(dest, "_SUCCESS").exists()))
    assert(new File(dest, "data").exists())
    assert(new File(dest, "_SUCCESS").exists())
    assert(!new File(dest, "partial").exists())
    assert(!orphan.exists(), "stale orphan should be swept")
  }

  test("publishDir lost race discards tmp and keeps the winner's artifact") {
    val root = mkTmp()
    val dest = new File(root, "cache")
    dest.mkdirs()
    Files.writeString(new File(dest, "_SUCCESS").toPath, "")
    Files.writeString(new File(dest, "data").toPath, "winner")
    val tmp = new File(root, "cache.tmp.loser")
    tmp.mkdirs()
    Files.writeString(new File(tmp, "data").toPath, "loser")
    assert(!LocalFs.publishDir(tmp, dest, destValid = () => true))
    assert(!tmp.exists(), "losing tmp should be discarded")
    assert(Files.readString(new File(dest, "data").toPath) == "winner")
  }

  test("sweepAged removes only aged prefix-matching siblings") {
    // the crashed-session GC behind per-session sink dirs: a dead session's
    // hour-old directory goes; a LIVE concurrent session's (younger than
    // TTL), the caller's own, and foreign-prefix entries all stay
    val parent = mkTmp()
    def mk(name: String, aged: Boolean): File = {
      val d = new File(parent, name)
      d.mkdirs()
      if (aged) d.setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000)
      d
    }
    val dead = mk("sink_a_dead", aged = true)
    val live = mk("sink_a_live", aged = false)
    val self = mk("sink_a_self", aged = true) // excluded even when aged
    val foreign = mk("other_x", aged = true)
    LocalFs.sweepAged(parent, "sink_a_", keep = self, ttlMs = 3600 * 1000L)
    assert(!dead.exists(), "aged sibling should be swept")
    assert(live.exists(), "young sibling must survive (live session)")
    assert(self.exists(), "keep-dir must survive")
    assert(foreign.exists(), "foreign prefix must survive")
  }

  test("name registry: no sweeper prefix can reach any published cache") {
    // the round-6 bug class, pinned structurally: every prefix any TTL
    // sweeper deletes by must be unable to match a published cache name.
    for (s <- LocalFs.Names.sweptPrefixes; c <- LocalFs.Names.publishedCaches)
      assert(!LocalFs.Names.hazardous(s, c),
        s"sweeper prefix '$s' can delete published cache '$c*'")
    // the checker itself has teeth: the r6 pairing IS flagged...
    assert(LocalFs.Names.hazardous("graft_cdc_", LocalFs.Names.CdcLandingCache))
    // ...an extension of a cache name in name-legal chars is flagged...
    assert(LocalFs.Names.hazardous(
      LocalFs.Names.CdcLandingCache + "_x", LocalFs.Names.CdcLandingCache))
    // ...but publishDir's `.tmp.` orphan prefixes are structurally safe
    // (the dot can never occur in a published cache name)
    assert(!LocalFs.Names.hazardous(
      LocalFs.Names.CdcLandingCache + "_sf_ab12cd34.tmp.",
      LocalFs.Names.CdcLandingCache))
  }

  test("sweepAged refuses a prefix that could delete a published cache") {
    val parent = mkTmp()
    // the exact r6 call shape: sweeping graft_cdc_ would reach the landing
    intercept[IllegalArgumentException] {
      LocalFs.sweepAged(parent, "graft_cdc_", keep = new File(parent, "w"),
        ttlMs = 3600 * 1000L)
    }
    // a registered disjoint prefix is accepted
    LocalFs.sweepAged(parent, LocalFs.Names.CdcReplay,
      keep = new File(parent, "w"), ttlMs = 3600 * 1000L)
  }

  test("publishDir re-evaluates validity at delete time (stale verdict is safe)") {
    // session B computed destValid=false earlier, but session A has since
    // published a complete artifact; B's publish must NOT tear it down
    val root = mkTmp()
    val dest = new File(root, "cache")
    dest.mkdirs()
    Files.writeString(new File(dest, "_SUCCESS").toPath, "")
    Files.writeString(new File(dest, "data").toPath, "winner")
    val tmp = new File(root, "cache.tmp.stale")
    tmp.mkdirs()
    Files.writeString(new File(tmp, "data").toPath, "stale-session")
    // the CLOSURE sees the current (valid) state even though the session's
    // earlier check said invalid
    assert(!LocalFs.publishDir(tmp, dest,
      destValid = () => new File(dest, "_SUCCESS").exists()))
    assert(Files.readString(new File(dest, "data").toPath) == "winner")
  }

  test("sessionDir touches its own dir so a concurrent sweep spares a live session") {
    // the session-dir GC race: a session OLDER than the sweep TTL whose
    // sink key re-executes late has a stale-looking dir mtime exactly when
    // a concurrent session allocates (and sweeps). sessionDir defuses it
    // by touching the dir at every allocation/reuse — age is measured from
    // last USE, not first creation.
    val prefix = s"graft_fs_sink_${System.nanoTime()}_"
    val parent = new File(sys.props("java.io.tmpdir"))
    try {
      val mine = LocalFs.sessionDir(prefix, "app-live")
      assert(mine.isDirectory)
      // an hour of session idling: the dir's mtime goes stale
      mine.setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000)
      // late re-execution of the sink key in the SAME session refreshes it
      assert(LocalFs.sessionDir(prefix, "app-live") == mine)
      assert(mine.lastModified() > System.currentTimeMillis() - 60 * 1000)
      // so a concurrent session's allocation sweep must spare it...
      LocalFs.sessionDir(prefix, "app-other")
      assert(mine.exists(), "live session's dir was swept")
      // ...while a genuinely dead sibling (stale mtime, never re-touched)
      // is collected by the same sweep
      val dead = new File(parent, prefix + "app-dead")
      dead.mkdirs()
      dead.setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000)
      LocalFs.sessionDir(prefix, "app-other2")
      assert(!dead.exists(), "dead session's dir survived the sweep")
      // workDir hands out a FRESH dir per call within one session
      val w1 = LocalFs.workDir(prefix, "app-live")
      val w2 = LocalFs.workDir(prefix, "app-live")
      assert(w1 != w2 && w1.isDirectory && w2.isDirectory)
      assert(w1.getName.startsWith(prefix + "app-live_"))
    } finally {
      parent.listFiles().filter(_.getName.startsWith(prefix))
        .foreach(LocalFs.deleteRecursively)
    }
  }

  /** A throwaway source + landing prefix under the tmpdir, removed after. */
  private def withLanding(body: (String, String, File) => Unit): Unit = {
    val sfDir = mkTmp()
    val src = new File(sfDir, "t.parquet")
    Files.writeString(src.toPath, "rows")
    val prefix = s"graft_fs_land_${System.nanoTime()}_"
    try body(prefix, sfDir.getPath, src)
    finally {
      new File(sys.props("java.io.tmpdir")).listFiles()
        .filter(_.getName.startsWith(prefix))
        .foreach(LocalFs.deleteRecursively)
      LocalFs.deleteRecursively(sfDir)
    }
  }

  test("landOnce builds once, marks and publishes, and refreshes the mtime on reuse") {
    withLanding { (prefix, sfDir, src) =>
      var builds = 0
      def land(): String = LocalFs.landOnce("app-a", prefix, sfDir, src) {
        tmp =>
          builds += 1
          tmp.mkdirs()
          Files.writeString(new File(tmp, "data").toPath, "v")
      }
      val path = land()
      val dest = new File(path)
      assert(path == LocalFs.cachePath(prefix, sfDir, src))
      assert(builds == 1)
      assert(new File(dest, "data").exists())
      assert(new File(dest, "_SUCCESS").exists(), "landing published unmarked")
      assert(!LocalFs.stagingDir(dest, "app-a").exists(),
        "staging dir survived the publish")
      // an idle landing's mtime goes stale; the next use must not rebuild,
      // and must refresh it
      dest.setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000)
      assert(land() == path)
      assert(builds == 1, "second landOnce call rebuilt a marked landing")
      assert(dest.lastModified() > System.currentTimeMillis() - 60 * 1000,
        "reuse did not refresh the landing's mtime")
    }
  }

  test("landOnce rebuilds a dest that exists without its marker") {
    withLanding { (prefix, sfDir, src) =>
      // a crashed or pre-marker writer's dir at the stable path
      val dest = new File(LocalFs.cachePath(prefix, sfDir, src))
      dest.mkdirs()
      Files.writeString(new File(dest, "partial").toPath, "junk")
      var builds = 0
      LocalFs.landOnce("app-a", prefix, sfDir, src) { tmp =>
        builds += 1
        tmp.mkdirs()
        Files.writeString(new File(tmp, "data").toPath, "good")
      }
      assert(builds == 1, "marker-less dest was served instead of rebuilt")
      assert(!new File(dest, "partial").exists())
      assert(Files.readString(new File(dest, "data").toPath) == "good")
      assert(new File(dest, "_SUCCESS").exists())
    }
  }

  test("a throwing landOnce build publishes nothing and the next call builds cleanly") {
    withLanding { (prefix, sfDir, src) =>
      val dest = new File(LocalFs.cachePath(prefix, sfDir, src))
      val boom = intercept[IllegalStateException] {
        LocalFs.landOnce("app-a", prefix, sfDir, src) { tmp =>
          tmp.mkdirs()
          Files.writeString(new File(tmp, "half").toPath, "written")
          throw new IllegalStateException("build died")
        }
      }
      assert(boom.getMessage == "build died")
      assert(!dest.exists(), "a failed build published a landing")
      assert(!LocalFs.stagingDir(dest, "app-a").exists(),
        "a failed build left its staging dir behind")
      LocalFs.landOnce("app-a", prefix, sfDir, src) { tmp =>
        // a clean staging dir: nothing of the failed attempt leaks in
        assert(!new File(tmp, "half").exists())
        tmp.mkdirs()
        Files.writeString(new File(tmp, "data").toPath, "good")
      }
      assert(new File(dest, "_SUCCESS").exists())
      assert(!new File(dest, "half").exists())
      assert(new File(dest, "data").exists())
    }
  }

  test("promoteOrdered renames each work dir's part file and stamps ascending mtimes") {
    val root = mkTmp()
    try {
      // work dirs written in REVERSE order: the replay order must come
      // from the promotion order, not from write time
      Seq("c", "b", "a").foreach { n =>
        val w = new File(root, s"work_$n")
        w.mkdirs()
        Files.writeString(new File(w, s"part-00000-$n.snappy.parquet").toPath, n)
        Files.writeString(new File(w, "_SUCCESS").toPath, "")
      }
      LocalFs.promoteOrdered(root, Seq("a", "b", "c").zipWithIndex.map {
        case (n, i) => s"work_$n" -> f"out/f$i%02d_$n.parquet"
      })
      val out = Seq("a", "b", "c").zipWithIndex
        .map { case (n, i) => new File(root, f"out/f$i%02d_$n.parquet") }
      assert(out.map(f => Files.readString(f.toPath)) == Seq("a", "b", "c"))
      assert(out.map(_.lastModified()).sliding(2).forall(p => p(0) < p(1)),
        "replay files' mtimes are not ascending in promotion order")
      assert(!root.listFiles().exists(_.getName.startsWith("work_")),
        "work dirs survived the promotion")
      // a work dir without a part file fails loudly
      new File(root, "work_empty").mkdirs()
      intercept[RuntimeException] {
        LocalFs.promoteOrdered(root, Seq("work_empty" -> "out/x.parquet"))
      }
    } finally LocalFs.deleteRecursively(root)
  }

  test("the tmpdir protocol is spelled out only in LocalFs") {
    // every landing, session dir and replay promotion goes through
    // LocalFs; a second hand-written copy of the protocol would drift
    // (different marker checks, missing touches, no repair) — so no other
    // main source may name the tmpdir, the marker, the publish/sweep
    // primitives or a `.tmp.` staging name
    val banned = Seq("java.io.tmpdir", "_SUCCESS", "publishDir(",
      "sweepAged(", ".tmp.")
    val owner = "graft/LocalFs.scala"
    assert(MainSources.exists(owner))
    val hits = MainSources.strays(banned, _ != owner)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
