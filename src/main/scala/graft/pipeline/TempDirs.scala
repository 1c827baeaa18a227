package graft.pipeline

/** JVM-scoped temp directories for operator-internal artifacts (spilled
  * label tables, per-(JVM, fixture) index builds). `Files
  * .createTempDirectory` alone leaks the dir forever — a Verify+bench
  * session that builds indexes per invocation accumulated never-deleted
  * /tmp trees (the round-11 q136 finding). Everything allocated here is
  * registered with ONE shutdown hook and deleted recursively at JVM
  * exit, so within-session reuse stays cheap and nothing outlives the
  * session.
  */
object TempDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  // one hook for all dirs (a hook per dir would pile up threads across
  // a 160-query sweep); lazy so the hook registers on first use only
  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach(p => deleteRecursively(p.toFile))
    }, "graft-tempdirs-cleanup"))
  }

  /** A fresh temp dir, deleted recursively when the JVM exits. */
  def scoped(prefix: String): String = {
    hookInstalled
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(dir)
    dir.toString
  }

  /** Materialize-and-release: write `df` to a scoped temp parquet and
    * return the file-backed frame. The house discipline for ITERATIVE
    * operators (components, pagerank, prefix doubling, IVF-PQ) whose
    * loop persists rounds internally: the FINAL frame must not be
    * returned persisted/checkpointed, because the consumers are
    * registered queries with no unpersist hook — a leaked block squats
    * executor memory for the rest of a 160-query Verify session (the
    * round-10 accreted-state class, 1.7× bench inflation measured).
    * Truncating lineage through STORAGE instead of cache is also the
    * 100 TB shape: land the converged table once, derive every
    * consumer from the files. RegistrySpec tripwires the invariant
    * (`getPersistentRDDs` empty after each registered query's
    * construction). The caller unpersists its own inputs AFTER this
    * returns (the write is the materializing action). */
  def spillParquet(df: org.apache.spark.sql.DataFrame,
                   prefix: String): org.apache.spark.sql.DataFrame = {
    val path = s"${scoped(prefix)}/data"
    df.write.parquet(path)
    // read back under the written schema: parquet would infer the same
    // one (nullable), at the cost of a footer-reading job
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }
}
