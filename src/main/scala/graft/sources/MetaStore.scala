package graft.sources

import java.nio.file.{CopyOption, FileAlreadyExistsException, Files, Path => JPath, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

/** The catalog's metadata-file operations: every read, write, rename,
  * link, delete, listing and walk that graft makes in
  * [[AtomicParquetCatalog]]'s table directories goes through this one
  * object (Spark's writers create the data files themselves), so the
  * on-disk layout and its atomicity rules are known in one place.
  * One-call probes (`Files.exists`, `isDirectory`, `size`,
  * `getLastModifiedTime`) stay at their call sites. Listings and walks
  * are materialized or handed to a closure inside this object, so every
  * directory stream closes.
  *
  * Table directory layout (`<warehouse>/<ns>/<table>/`):
  *  - `_current` — the main pointer log: version names, newest first.
  *    Rewritten by every main-bound commit (create/RTAS, append,
  *    overwrite, copy-on-write and merge-on-read MERGE/UPDATE/DELETE,
  *    truncate) and by the log-rewriting procedures (expire_snapshots,
  *    rollback_to, compact, cluster_by, rewrite_*, evolve/unify_layout,
  *    fast_forward, clone's target). Replaced atomically ([[replace]]).
  *  - `_branch_<b>` — a branch's pointer log, same format. Written by
  *    create_branch and by commits to a `t@b` table; replaced
  *    atomically; drop_branch deletes it.
  *  - `_refs` — tags, `name<TAB>version` lines. Written by tag and
  *    drop_tag; replaced atomically.
  *  - `_props` — TBLPROPERTIES, `key<TAB>value` lines. Written by
  *    CREATE/RTAS with properties and ALTER TABLE SET/UNSET
  *    TBLPROPERTIES (replaced atomically); clone copies it plainly
  *    before its first commit.
  *  - `_constraints` — table constraints ([[TableConstraints]]).
  *    Written by ALTER TABLE ADD/DROP CONSTRAINT; replaced atomically.
  *  - `_commit.lock` — held by every commit and every log-rewriting
  *    procedure: created only if absent ([[createNew]]), deleted by its
  *    owner, broken after `lockStaleMs` by an atomic rename to
  *    `_commit.lock.broken-<uuid>` that is then deleted.
  *  - `_filestats/`, `_bloomidx/` — footer-stats and bloom-bitset part
  *    files `fs-<uuid>.tsv` / `bf-<uuid>.tsv`, one per commit (bloom:
  *    `write.bloom-cols` tables only), each created by an atomic rename;
  *    compaction merges them into one part under the commit lock; clone
  *    links them.
  *  - `v-<uuid>/` — one immutable version directory per commit,
  *    invisible until a pointer log names it. Inside it:
  *    - `_schema.json`, `_partitions.txt` — schema and partition spec,
  *      written plainly (or carried by [[carrySpec]]) by every commit
  *      kind before the swap;
  *    - `_legacy_specs.txt` — the prior layouts of a mixed-spec version
  *      (`subtree<TAB>spec` lines): written by evolve_layout, carried
  *      plainly by every commit that links the version's files forward;
  *    - `_committed_at` — the commit instant in epoch millis, written
  *      plainly under the commit lock just before the swap by every
  *      commit; versions from older layouts have none and resolve to
  *      their directory's mtime ([[committedAt]]);
  *    - `_stats` — column statistics of the current version, written by
  *      analyze; replaced atomically;
  *    - `_deletes/` — merge-on-read delete entries `<id>.files`,
  *      `<id>.count`, `<id>.pred` and positional `<id>.pos`, each
  *      created by an atomic rename, `.pred`/`.pos` last (the entry's
  *      commit marker); linked forward into every successor version;
  *    - `_stream_commits.tsv`, `_cdc_types`, `_content_preserving` — the
  *      streaming sink's epoch ledger, a typed-update commit's CDC
  *      manifest and a maintenance commit's marker, written plainly;
  *    - data files: hive-partitioned parquet, `_spec-<k>/` legacy
  *      subtrees included (see [[dataFiles]]).
  *
  * Every atomic replacement writes `.<name>.tmp-<uuid>` beside its
  * target and renames it over the target: a leftover temp file starts
  * with a dot, which every listing of these directories (Spark's file
  * index, [[dataFiles]], the `_deletes/` and sidecar-store readers)
  * skips, and contains `.tmp-`, which the branch listing skips. */
private[graft] object MetaStore {

  // ---- reads ----

  /** The whole file as UTF-8 text. */
  def read(p: JPath): String = new String(Files.readAllBytes(p), "UTF-8")

  /** [[read]], or None when the file is absent or vanished mid-read (a
    * lock-free reader racing a compaction or a vacuum). */
  def readIfPresent(p: JPath): Option[String] =
    try Some(read(p)) catch { case _: java.io.IOException => None }

  /** Trimmed non-empty lines of `text`. */
  def splitLines(text: String): Seq[String] =
    text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)

  /** Trimmed non-empty lines of the file; empty when it is absent. */
  def lines(p: JPath): Seq[String] =
    if (!Files.exists(p)) Nil else splitLines(read(p))

  /** `key<TAB>value` lines of the file as a map; empty when absent. */
  def tsvMap(p: JPath): Map[String, String] =
    lines(p).map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap

  /** Persisted TBLPROPERTIES of a table directory. Table-scoped, not
    * snapshot-scoped: they configure future writes, so a time-traveled
    * reader must not resurrect an old write mode. */
  def readProps(tableDir: JPath): Map[String, String] =
    tsvMap(tableDir.resolve("_props"))

  /** A version's commit instant in epoch millis: its `_committed_at`
    * marker, else (older layouts) its directory's mtime; None when
    * neither can be read. */
  def committedAt(versionDir: JPath): Option[Long] =
    try Some(read(versionDir.resolve("_committed_at")).trim.toLong)
    catch {
      case _: Exception =>
        try Some(Files.getLastModifiedTime(versionDir).toMillis)
        catch { case _: Exception => None }
    }

  // ---- writes ----

  def write(p: JPath, text: String): Unit = {
    Files.write(p, text.getBytes("UTF-8")); ()
  }

  /** Replace `p` atomically: write a dot-named temp file beside it, then
    * rename it over `p`. A reader sees the old content or the new. */
  def replace(p: JPath, text: String): Unit = {
    val tmp = p.resolveSibling(s".${p.getFileName}.tmp-${UUID.randomUUID()}")
    Files.write(tmp, text.getBytes("UTF-8"))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Create `p` holding `text` only if it does not exist; false when it
    * does (the commit lock's atomic acquire). */
  def createNew(p: JPath, text: String): Boolean =
    try {
      Files.write(p, text.getBytes("UTF-8"), StandardOpenOption.CREATE_NEW,
        StandardOpenOption.WRITE)
      true
    } catch { case _: FileAlreadyExistsException => false }

  def mkdirs(dir: JPath): Unit = { Files.createDirectories(dir); () }

  def move(src: JPath, dst: JPath, options: CopyOption*): Unit = {
    Files.move(src, dst, options: _*); ()
  }

  def copy(src: JPath, dst: JPath, options: CopyOption*): Unit = {
    Files.copy(src, dst, options: _*); ()
  }

  def delete(p: JPath): Boolean = Files.deleteIfExists(p)

  /** Hard-link `src` to `dst`, or copy it where the file system has no
    * links: the single-file unit of every no-data-copy path. `dst`'s
    * directory must exist. */
  def linkOrCopy(src: JPath, dst: JPath): Unit =
    try { Files.createLink(dst, src); () }
    catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING); ()
    }

  /** Delete `p` and everything under it, if it exists. */
  def deleteTree(p: JPath): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      val all = try walk.iterator().asScala.toList finally walk.close()
      all.reverse.foreach(Files.delete)
    }

  /** Create version directory `to` carrying `from`'s schema and
    * partition spec: the first step of every commit that keeps the
    * table's shape. */
  def carrySpec(from: JPath, to: JPath): Unit = {
    Files.createDirectories(to)
    Files.copy(from.resolve("_schema.json"), to.resolve("_schema.json"))
    Files.copy(from.resolve("_partitions.txt"), to.resolve("_partitions.txt"))
    ()
  }

  // ---- listings ----

  /** The entries of `dir`, with the directory stream closed. */
  def list(dir: JPath): Seq[JPath] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.toList finally ls.close()
  }

  /** Is `p`, a regular file under version directory `root`, a data
    * file? Its name is not hidden (`_`/`.`: metadata, checksums, temp
    * files) and every directory above it is a layout level or a legacy
    * `_spec-<k>` subtree ([[PartitionRuntimeFilters.isDataRel]]). */
  private def isData(root: JPath, p: JPath): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith("_") && !n.startsWith(".") &&
      PartitionRuntimeFilters.isDataRel(root.relativize(p).toString)
  }

  /** Hand `f` the data files under `root` in walk order, closing the
    * walk when `f` returns. */
  def walkData[A](root: JPath)(f: Iterator[JPath] => A): A = {
    val walk = Files.walk(root)
    try f(walk.iterator().asScala.filter(p =>
      Files.isRegularFile(p) && isData(root, p)))
    finally walk.close()
  }

  /** Every data file under `root` (absolute path strings, sorted); empty
    * when `root` is not a directory. Explicit leaves are what a
    * `_spec-<k>` legacy subtree needs: Spark's listing drops its
    * underscore root, but passes explicitly named files. */
  def dataFiles(root: JPath): Seq[String] =
    if (!Files.isDirectory(root)) Nil
    else walkData(root)(_.map(_.toString).toSeq.sorted)
}
