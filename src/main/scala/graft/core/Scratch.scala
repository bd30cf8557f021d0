package graft.core

import java.nio.file.{Files, Path, Paths}

/** Per-JVM build-once scratch artifacts for queries whose SEMANTICS
  * include a storage layout (partitioned/sorted/z-ordered/bloom-keyed
  * lakes, variant-encoded parquet): the layout is built ONCE per
  * (kind, fixture dir) per JVM, and every subsequent invocation —
  * including bench iterations 2..n — measures only the READ the query
  * exists to prove, not a whole-table rewrite.
  *
  * Path hygiene (why this replaces ad-hoc `dir.hashCode` paths under
  * the signature-store root):
  *  - keyed by the FULL fixture path under an injective encoding
  *    ([[escape]]), so two fixture dirs can never collide the way a
  *    32-bit String.hashCode (or a lossy `[^A-Za-z0-9]→_` rename,
  *    which maps `a b` and `a_b` together) can;
  *  - the root is pid-scoped, so two concurrent runs over the same
  *    fixture never clobber each other's artifact mid-read, and a
  *    fixture regenerated in place between runs can never be read
  *    through a stale artifact from an earlier process;
  *  - the root is removed on JVM exit (multi-GB ladder copies don't
  *    accumulate in the temp dir), and a root whose JVM died before
  *    its exit hook ran is reclaimed by the next JVM that creates its
  *    own ([[sweepDeadRoots]]).
  *
  * Besides the build-once artifacts, the root holds per-call run
  * directories ([[runDir]]): a streaming query's checkpoint, sink
  * output or generations, fresh on every call so two runs in one JVM
  * never share them, and removed by the per-query release
  * ([[Caches.releaseAll]]) or, at the latest, with the root.
  *
  * Scale posture: on a real lake these artifacts are the ingest-time
  * layout jobs (partitioning, sort-clustering, bloom embedding) paid
  * once per corpus version; build-once-per-JVM is the local-mode
  * stand-in for exactly that amortization.
  */
object Scratch {
  private val rootPrefix =
    "graft_scratch_" + sys.props.getOrElse("user.name", "anon") + "_"

  private lazy val root: Path = {
    val tmp = Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    sweepDeadRoots(tmp)
    val p = tmp.resolve(rootPrefix + ProcessHandle.current().pid())
    Files.createDirectories(p)
    Runtime.getRuntime.addShutdownHook(new Thread(() => reclaim(p)))
    p
  }

  /** Reclaim the roots in `parent` that this user's JVMs left behind
    * when they died before their exit hook ran: a
    * `graft_scratch_<user>_<pid>` directory whose pid no live process
    * has AND whose mtime is over an hour old. The pid check keeps a
    * live JVM's root however long it idles; the hour keeps a fresh
    * root whose JVM this process cannot see (another pid namespace
    * sharing the temp dir). Best effort, like the exit hook. */
  private[graft] def sweepDeadRoots(parent: Path): Unit = {
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    def dead(d: Path): Boolean = {
      val pid = d.getFileName.toString.stripPrefix(rootPrefix)
      d.getFileName.toString.startsWith(rootPrefix) &&
        pid.nonEmpty && pid.forall(_.isDigit) &&
        pid.toLongOption.forall(ProcessHandle.of(_).isEmpty) &&
        (try Files.getLastModifiedTime(d).toMillis < cutoff
         catch { case _: java.io.IOException => false })
    }
    try {
      val ls = Files.list(parent)
      try ls.filter(d => dead(d)).forEach(d => reclaim(d)) finally ls.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
  }

  private val done =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val guards =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def guard(key: String): Object =
    guards.computeIfAbsent(key, _ => new Object)

  /** Run `body` the first time this JVM asks for `key`, and never again
    * until [[forget]]. Per-key locking: bodies for DIFFERENT keys don't
    * serialize on each other's Spark jobs, and a second caller of the
    * SAME key waits for the first, then skips. A body that throws
    * leaves `key` unset, so the next caller runs it again. */
  def once(key: String)(body: => Unit): Unit =
    if (!done.contains(key)) guard(key).synchronized {
      if (!done.contains(key)) {
        body
        done.add(key)
      }
    }

  /** Run `undo` under `key`'s lock (never concurrently with a [[once]]
    * body for `key`), then forget that `key` ran: the next [[once]]
    * runs its body again. */
  def forget(key: String)(undo: => Unit): Unit = guard(key).synchronized {
    undo
    done.remove(key)
  }

  /** The path [[buildOnce]] would use — for specs that inspect the
    * artifact's on-disk layout after the query built it. `kind` is
    * `[a-z0-9]+` words joined by single `_`s, so the first `__` in the
    * name ends it and the name is injective in (kind, dir). */
  def pathFor(kind: String, dir: String): String = {
    requireKind(kind)
    root.resolve(kind + "__" + escape(dir)).toString
  }

  private def requireKind(kind: String): Unit =
    require(kind.matches("[a-z0-9]+(_[a-z0-9]+)*"),
      s"scratch kind must be [a-z0-9]+ words joined by single _: '$kind'")

  /** `kind` plus a random 128-bit hex suffix: unique across calls and
    * JVMs, valid as a store tag or a catalog name, and free of `__`, so
    * never a [[pathFor]] name. */
  def freshName(kind: String): String = {
    requireKind(kind)
    kind + "_" + java.util.UUID.randomUUID.toString.replace("-", "")
  }

  /** A new, empty directory for one call of a query that writes files
    * it reads back (a streaming checkpoint, sink output, generations),
    * removed by the next [[Caches.releaseAll]] (the call's lazy frames
    * read it until then) or with the root. */
  def runDir(kind: String): String = {
    val p = Files.createDirectories(root.resolve(freshName(kind)))
    Caches.onRelease(() => reclaim(p))
    p.toString
  }

  /** Return the scratch path for artifact `kind` derived from fixture
    * `dir`, running `build(path)` the first time this JVM asks for it
    * (per-key [[once]]). */
  def buildOnce(kind: String, dir: String)(build: String => Unit): String = {
    val out = pathFor(kind, dir)
    once(out)(build(out))
    out
  }

  /** Delete `p` and everything under it; a missing path is a no-op. */
  def deleteTree(p: Path): Unit = deleteEach(p, f => Files.deleteIfExists(f))

  /** [[deleteTree]] that skips what it cannot delete and goes on, for
    * the exit hook and the dead-root sweep: one unremovable file must
    * not keep the rest of a root on disk. */
  private def reclaim(p: Path): Unit =
    try deleteEach(p, f =>
      try Files.deleteIfExists(f) catch { case _: java.io.IOException => false })
    catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }

  private def deleteEach(p: Path, delete: Path => Boolean): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => delete(f))
      finally walk.close()
    }

  /** `s`'s UTF-8 bytes as `[a-z0-9_]`: `a-z` and `0-9` as themselves,
    * `_` as `__`, any other byte as `_` plus two lower-case hex digits.
    * Injective, so distinct strings never share a name, and free of
    * upper case, so a case-insensitive file system or catalog lookup
    * cannot merge two names (`Aa` and `aA` encode apart). */
  def escape(s: String): String =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).map { b =>
      val c = (b & 0xff).toChar
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) c.toString
      else if (c == '_') "__"
      else f"_${b & 0xff}%02x"
    }.mkString
}
