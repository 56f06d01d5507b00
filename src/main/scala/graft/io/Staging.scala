package graft.io

/** Generation-versioned, create-only staging of derived artifacts in
  * the JVM temp dir — the ONE spelling shared by every per-testdata
  * stage (the text dedup index, the embedding band index, the media
  * lake, the PQ index): `build` populates a temp dir, which is
  * published under a name keyed by the SOURCE parquet's (size, mtime)
  * via atomic rename. Losers of the cross-process race keep the
  * winner's identical artifact (build is deterministic per source
  * generation); a new testdata generation changes the key, so stale
  * artifacts are never read. Extracted from the formerly-duplicated
  * DedupQueries/EmbIndexQueries spellings so the two cannot drift.
  *
  * Reference trace: the reference stages nothing (every request
  * re-reads S3, `etl_core.py:27`); staging-once-per-generation is the
  * [EXT] production shape for artifacts derived from an immutable
  * input snapshot.
  */
object Staging {

  /** Per-target publication locks: stages of DIFFERENT artifacts
    * (text index vs media lake vs emb index) must not serialize each
    * other inside one JVM — only same-target builders do. */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Stages once per (prefix, source-file generation).
    *
    * @param prefix  artifact-family prefix, e.g. "graft_media_" —
    *                bump it (…"_v2_") when the BUILDER semantics
    *                change, or an old generation's artifact would be
    *                read back as current
    * @param dir     the sf data dir; `keyFile` inside it keys the
    *                generation
    * @param keyFile the source parquet whose (size, mtime) versions
    *                the artifact
    * @param build   populates the given empty root path
    * @return the published artifact root
    */
  def stageOnce(prefix: String, dir: String, keyFile: String)(
      build: String => Unit): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(dir, keyFile)
    val attr = Files.readAttributes(src,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val target = Paths.get(sys.props("java.io.tmpdir"),
      prefix + dir.replaceAll("[^A-Za-z0-9]", "_") +
        s"_${attr.size}_${attr.lastModifiedTime.toMillis}")
    val lock = locks.computeIfAbsent(target.toString, _ => new Object)
    lock.synchronized {
      if (!Files.exists(target)) {
        val tmp = Files.createTempDirectory(
          Paths.get(sys.props("java.io.tmpdir")), "." + prefix)
        // finally-reap: a build() failure (executor loss mid-write)
        // must not orphan the partially-written scratch artifact
        try {
          val staged = tmp.resolve("root")
          build(staged.toString)
          try Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
          catch {
            // another process published the identical artifact first
            case _: java.nio.file.FileAlreadyExistsException |
                 _: java.nio.file.DirectoryNotEmptyException |
                 _: java.nio.file.AccessDeniedException => ()
          }
        } finally deleteRecursively(tmp)
      }
    }
    target.toString
  }

  /** Depth-first recursive delete of a local tree (stream-closed,
    * children before parents, missing entries tolerated) — the one
    * spelling of the delete-tree idiom the staging, Verify and stream
    * paths share. */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse
        .foreach(x => Files.deleteIfExists(x))
      finally w.close()
    }
  }
}
