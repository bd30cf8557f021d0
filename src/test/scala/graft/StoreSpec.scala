package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Store
import graft.operators.{Dedup, Similarity}

/** The shared generational store lifecycle: tag derivation and the
  * per-JVM once memo every store's persist and absorb go through. */
class StoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("store tags are injective over fixture dirs and valid catalog identifiers") {
    // equal 32-bit String.hashCode, and a pair a [^A-Za-z0-9] -> _
    // rewrite merges; a case-only difference a case-insensitive
    // catalog would merge
    assert("/data/Aa".hashCode == "/data/BB".hashCode)
    val dirs = Seq("/data/Aa", "/data/BB", "/data/sf0.1", "/data/sf0_1",
      "/data/aA", "/data/aa")
    val tags = dirs.map(Store.tag("inc", _))
    assert(tags.distinct.size == dirs.size, tags)
    assert(tags.map(_.toLowerCase).distinct.size == dirs.size, tags)
    tags.foreach(t => assert(t.matches("[a-z0-9_]+"), t))
    // role and dir never trade characters
    assert(Store.tag("d0", "x") != Store.tag("d", "0x"))
    assert(Store.tag("inc", "/data/sf0.1") == Store.tag("inc", "/data/sf0.1"))
    intercept[IllegalArgumentException](Store.tag("day_2", "/data"))
  }

  test("once runs its body once per store generation until vacuum") {
    val tag = "spec_once_memo"
    val sig = new AtomicInteger()
    val ivf = new AtomicInteger()
    Dedup.SignatureStore.vacuum(spark, tag)
    Similarity.IvfStore.vacuum(spark, tag)
    Dedup.SignatureStore.once(tag)(sig.incrementAndGet(): Unit)
    Dedup.SignatureStore.once(tag)(sig.incrementAndGet(): Unit)
    assert(sig.get == 1, "once ran its body twice")
    // the same tag in another store is its own generation
    Similarity.IvfStore.once(tag)(ivf.incrementAndGet(): Unit)
    assert(ivf.get == 1, "one tag in two stores shared a memo entry")
    Dedup.SignatureStore.vacuum(spark, tag)
    Dedup.SignatureStore.once(tag)(sig.incrementAndGet(): Unit)
    assert(sig.get == 2, "once did not run again after vacuum")
    // vacuuming one store left the other's entry alone
    Similarity.IvfStore.once(tag)(ivf.incrementAndGet(): Unit)
    assert(ivf.get == 1)
    Dedup.SignatureStore.vacuum(spark, tag)
    Similarity.IvfStore.vacuum(spark, tag)
  }

  test("once runs its body once when two threads race on one generation") {
    val tag = "spec_once_race"
    Dedup.SignatureStore.vacuum(spark, tag)
    val runs = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            Dedup.SignatureStore.once(tag) {
              runs.incrementAndGet()
              Thread.sleep(200) // hold the body while the other thread arrives
            }
          }
        })
      }
      start.countDown()
      calls.foreach(_.get(30, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(runs.get == 1, s"body ran ${runs.get} times")
    Dedup.SignatureStore.vacuum(spark, tag)
  }

  test("build-once scratch paths are injective over fixture dirs") {
    import graft.core.Scratch
    // a [^A-Za-z0-9._-] -> _ rename merged these two into one path
    val (a, b) = ("/d/a b", "/d/a_b")
    assert(Scratch.pathFor("k", a) != Scratch.pathFor("k", b))
    // and kind and dir never trade characters
    assert(Scratch.pathFor("k_x", "y") != Scratch.pathFor("k", "x_y"))
    assert(Scratch.pathFor("k", "_y") != Scratch.pathFor("k_y", ""))
    intercept[IllegalArgumentException](Scratch.pathFor("k__x", "y"))
    val builds = new AtomicInteger()
    val pa = Scratch.buildOnce("spec_inj", a)(_ => builds.incrementAndGet(): Unit)
    val pb = Scratch.buildOnce("spec_inj", b)(_ => builds.incrementAndGet(): Unit)
    assert(pa != pb && builds.get == 2, "the second dir reused the first one's build")
    Scratch.buildOnce("spec_inj", a)(_ => builds.incrementAndGet(): Unit)
    assert(builds.get == 2, "buildOnce ran twice for one dir")
  }

  test("the scratch sweep reclaims only this user's dead, hour-old roots") {
    import java.nio.file.{Files, Path}
    import java.nio.file.attribute.FileTime
    import graft.core.Scratch
    val parent = Files.createTempDirectory("graft_sweep_spec")
    val user = sys.props.getOrElse("user.name", "anon")
    // above Linux's largest pid_max (2^22), so no live process has them
    val (dead1, dead2) = (4194400L, 4194401L)
    assume(ProcessHandle.of(dead1).isEmpty && ProcessHandle.of(dead2).isEmpty)
    val hourAgo = FileTime.fromMillis(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    def root(owner: String, pid: Long, old: Boolean): Path = {
      val d = Files.createDirectories(parent.resolve(s"graft_scratch_${owner}_$pid"))
      Files.write(Files.createDirectories(d.resolve("run")).resolve("f"), Array[Byte](1))
      if (old) Files.setLastModifiedTime(d, hourAgo)
      d
    }
    val deadOld = root(user, dead1, old = true)
    val liveOld = root(user, ProcessHandle.current().pid(), old = true)
    val deadFresh = root(user, dead2, old = false)
    // user `<user>_1`: its root also starts with this user's prefix
    val otherUser = root(user + "_1", dead1, old = true)
    try {
      Scratch.sweepDeadRoots(parent)
      assert(!Files.exists(deadOld), "a dead JVM's hour-old root was kept")
      assert(Files.exists(liveOld), "a live JVM's root was reclaimed")
      assert(Files.exists(deadFresh), "a root under an hour old was reclaimed")
      assert(Files.exists(otherUser), "another user's root was reclaimed")
    } finally Scratch.deleteTree(parent)
  }
}
