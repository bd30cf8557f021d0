package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The generational lifecycle every persisted store shares — DataS's
  * daily loop: persist → probe → absorb → re-persist → probe, then
  * vacuum the superseded generation. A generation is one `tag`; its
  * files live under `<root>/<kind>_store_<tag>/<name>` and its catalog
  * tables are `graft_<kind>_<name>_<tag>`. A store object extends this
  * with its kind and table names and keeps only its frames, layout and
  * merge; this class owns the directories, the per-JVM write-once
  * memo, the new-tag rule, the bucketed-table write and retention.
  *
  * Catalog notes: tables are EXTERNAL (explicit `path`) under a
  * per-user root, so the data survives JVMs while the in-memory
  * catalog entry is re-registered per session; re-writes overwrite.
  *
  * Generations: an absorb reads generation `fromTag` and writes a NEW
  * `toTag` ([[requireNewTag]]) instead of overwriting in place, which
  * keeps the old generation readable until the rewrite commits — the
  * poor man's atomic swap a table format would give for free. Every
  * absorb materializes real files under its own tag, so no later
  * generation references an earlier one and [[vacuum]] is safe once
  * the successor is written. */
abstract class Store(kind: String, tables: String*) {
  /** Where every generation of every store lives. */
  def root: String = Store.FixtureRoot

  /** Generation `tag`'s directory. */
  def dir(tag: String): java.nio.file.Path =
    java.nio.file.Paths.get(root, s"${kind}_store_$tag")

  /** Catalog name of generation `tag`'s table `name`. */
  def table(tag: String, name: String): String = s"graft_${kind}_${name}_$tag"

  /** Run `body` — a write or absorb of generation `tag` — once per JVM,
    * so a bench iterating on the probe doesn't pay the persist each
    * call (the lifecycle's point: persist once, probe daily). Keyed by
    * the generation's directory, which names the store kind, so one
    * tag in two stores is two entries; [[vacuum]] clears it. */
  def once(tag: String)(body: => Unit): Unit =
    Scratch.once(dir(tag).toString)(body)

  /** An absorb writes a NEW tag: overwriting in place would read and
    * clobber the same files. */
  def requireNewTag(fromTag: String, toTag: String): Unit =
    require(fromTag != toTag,
      "absorb writes a NEW tag; in-place overwrite would read and clobber the same files")

  /** Write `df` as generation `tag`'s table `name`: an external table
    * bucketed by `keys` into `buckets` and sorted within buckets by the
    * same keys, so a probe joining or grouping on them reads the store
    * with no Exchange on its side. */
  def writeBucketed(spark: SparkSession, df: DataFrame, tag: String,
                    name: String, buckets: Int, keys: String*): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${table(tag, name)}")
    df.write.mode("overwrite")
      .option("path", dir(tag).resolve(name).toString)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table(tag, name))
  }

  /** RETENTION — drop generation `tag` (catalog entries AND on-disk
    * data) once a newer generation has been absorbed and its probe
    * verified, and clear its [[once]] memo. Idempotent: missing tables
    * or directories are not an error. */
  def vacuum(spark: SparkSession, tag: String): Unit =
    Scratch.forget(dir(tag).toString) {
      tables.foreach(n => spark.sql(s"DROP TABLE IF EXISTS ${table(tag, n)}"))
      Scratch.deleteTree(dir(tag))
    }
}

object Store {
  /** The per-user root of the persisted stores and generated fixtures:
    * GRAFT_FIXTURE_DIR, else `graft_fixtures_<user>` under
    * java.io.tmpdir (not a fixed world-writable path, which another
    * local user could pre-own or plant symlinks in). */
  val FixtureRoot: String = sys.env.getOrElse("GRAFT_FIXTURE_DIR",
    java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      "graft_fixtures_" + sys.props.getOrElse("user.name", "anon")).toString)

  /** The store tag for one `role` (which store generation a query
    * uses, `[a-z0-9]+`) over fixture `dir`: the role, `_`, then
    * [[Scratch.escape]] of the dir. Injective in (role, dir), as the
    * role ends at the first `_` and the encoding is injective, so two
    * fixture dirs never share a store; and the tag is a valid catalog
    * identifier that case-insensitive name resolution cannot merge
    * with another. */
  def tag(role: String, dir: String): String = {
    require(role.matches("[a-z0-9]+"), s"store tag role must be [a-z0-9]+: '$role'")
    role + "_" + Scratch.escape(dir)
  }
}
