package graft.ops

/** Shared temp-dir lifecycle of the session-scoped materialization seams
  * ([[GraphEdges]] / [[DedupEdges]] / [[HnswIndex]] / [[SparseIndex]] /
  * [[KnnLists]] — r15 code-review, widened by the second pass: the
  * seed/clear/delete machinery existed in near-verbatim copies, the same
  * drift the r14 lineageId consolidation fixed in the streaming
  * maintainers): one dir → materialization-root map, idempotent seed
  * with orphan reclamation on a failed write, clear() + JVM-shutdown-
  * hook teardown. The seed body receives the materialization ROOT and
  * writes whatever artifact set the seam owns (one parquet dir or
  * several) — holders keep their build definitions and serving methods;
  * the seam owns only the lifecycle.
  *
  * Every read goes through [[seed]]: the first read for a dir writes the
  * artifacts, every later one scans them, so a session that never calls
  * the holder's explicit `seed` serves the same plan as one that does
  * (Bench seeds up front only to time the builds apart from the queries).
  * A seed body must not read its own holder: that would re-enter
  * `computeIfAbsent` on the same map, which throws.
  */
private[graft] final class SessionSeam(tmpPrefix: String) {

  private val seeded =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  sys.addShutdownHook(clear())

  /** The materialization root for `dir`, written on first use: `write`
    * receives a fresh temp root and persists the seam's artifacts under
    * it. Concurrent first calls for one dir write once (the others wait).
    * A failed write deletes its temp dir before rethrowing — otherwise no
    * map entry is recorded and neither [[clear]] nor the shutdown hook
    * would ever reclaim the orphan (ADVICE r10) — and the next call
    * writes again.
    */
  def seed(dir: String)(write: String => Unit): String =
    seeded.computeIfAbsent(dir, { _ =>
      val out = java.nio.file.Files.createTempDirectory(tmpPrefix)
      try write(out.toString)
      catch { case e: Throwable =>
        try deleteRecursively(out) catch { case _: Throwable => () }
        throw e
      }
      out.toString
    })

  private def deleteRecursively(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      // Files.walk holds an open directory handle until closed (ADVICE r11)
      val stream = java.nio.file.Files.walk(root)
      try {
        val walk = stream
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator()
        while (walk.hasNext) java.nio.file.Files.deleteIfExists(walk.next())
      } finally stream.close()
    }

  /** Drop all seeded materializations and delete their parquet. */
  def clear(): Unit = {
    val it = seeded.values().iterator()
    while (it.hasNext) {
      try deleteRecursively(java.nio.file.Paths.get(it.next()))
      catch { case _: Throwable => () } // best-effort teardown
    }
    seeded.clear()
  }
}
