package graft

/** JVM-scoped directory cache for gate fixtures that are BUILT IDENTICALLY
  * by more than one registered query — persisted serving indexes shared by
  * a batch gate and its streaming twin, and staged chronological replay
  * chunks shared by stream gates replaying the same source frame.
  *
  * Why: every serving gate deliberately keeps its index BUILD inside the
  * gate (the build is part of what the oracle certifies), but a sweep that
  * runs `q_jaccard_serve` and `q_jaccard_serve_stream` back-to-back was
  * paying for the same multi-second frozen-order index build twice, and the
  * 30+ stream gates were each re-staging quantile-split parquet chunks of
  * the same fixture. Sharing the artifact changes NOTHING about what each
  * gate computes — the keys encode every build input (scale-factor dir,
  * split, parameters), so a hit returns byte-equivalent inputs.
  *
  * Rules for call sites:
  *  - ONLY read-only consumers may share a key. A gate that mutates its
  *    directory (append / delete / tombstone / forget) must build privately.
  *  - Keys must include the sf dir and every parameter that affects the
  *    build output.
  *
  * Thread safety: one builder per key; concurrent resolves of the same key
  * block until the artifact exists. Builders run OUTSIDE the map's bin
  * locks (the map holds promises, never a running computation), so a slow
  * multi-second Spark build can never serialize unrelated keys sharing a
  * hash bin, and a builder that transitively resolves ANOTHER cache key
  * recurses safely instead of hitting ConcurrentHashMap's
  * 'Recursive update' failure. Pristine directories live until JVM exit (a
  * shutdown hook reclaims them) so a later gate can always re-read; the
  * mutable copies [[privateCopy]] hands out are additionally reclaimable
  * mid-JVM through [[releasePrivateCopies]] (see there).
  */
object GateCache {

  private val dirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CompletableFuture[String]]()

  private lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_gate_cache")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try rmTree(p)
      catch { case _: Exception => () }
    ))
    p
  }

  private def rmTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(rmTree(_))
      finally s.close()
    }
    Files.deleteIfExists(p)
  }

  /** Resolve `key` to a directory, running `build` into a fresh temp dir at
    * most once per JVM. `build` failures propagate and cache nothing — the
    * failed promise is removed before completing, so a later resolve
    * retries the build (concurrent waiters of the failing attempt see its
    * exception rather than silently re-running).
    */
  def dir(key: String)(build: String => Unit): String = {
    val fresh    = new java.util.concurrent.CompletableFuture[String]()
    val existing = dirs.putIfAbsent(key, fresh)
    if (existing != null)
      try existing.join()
      catch {
        case e: java.util.concurrent.CompletionException if e.getCause != null =>
          throw e.getCause
      }
    else
      // This thread owns the build; the promise is already visible so
      // concurrent resolvers of the same key park on it instead of
      // building twice.
      try {
        val d = java.nio.file.Files.createTempDirectory(root, "c")
        build(d.toString)
        fresh.complete(d.toString)
        d.toString
      } catch {
        case e: Throwable =>
          dirs.remove(key, fresh)
          fresh.completeExceptionally(e)
          throw e
      }
  }

  /** Copies handed out by [[privateCopy]] that are still on disk; drained
    * by [[releasePrivateCopies]] once the harness has materialized the
    * gate's output.
    */
  private val outstandingCopies = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** Copy-on-write resolve for gates that MUTATE their artifact (delete /
    * tombstone / forget): the pristine build is shared under `key` exactly
    * like [[dir]], but the caller gets a fresh deep copy it may mutate
    * freely — the pristine directory is never touched, so read-only
    * consumers of the same key stay correct. A parquet-directory copy is
    * milliseconds against the multi-second build it replaces, and the
    * copied artifact is byte-identical to what a private build of the same
    * key would have produced (the key encodes every build input).
    *
    * Lifecycle: the gate's RESULT frame reads the copy lazily, so the gate
    * body cannot delete it — the harness (Verify / Bench / TimeQuery /
    * ScaleSoak) calls [[releasePrivateCopies]] after fully
    * materializing each query instead. Copies therefore live one gate
    * long under a harness, and only until JVM exit elsewhere (specs).
    */
  def privateCopy(key: String)(build: String => Unit): String = {
    val pristine = java.nio.file.Paths.get(dir(key)(build))
    val dst = java.nio.file.Files.createTempDirectory(root, "m")
    copyTree(pristine, dst)
    outstandingCopies.add(dst)
    dst.toString
  }

  /** Delete every [[privateCopy]] directory handed out since the last
    * call. ONLY harnesses may call this, and only at a point where every
    * previously returned gate frame has been fully materialized — a lazy
    * frame still holding a copy's path would read deleted files. Repeated
    * reps of a mutating gate in one JVM (TimeQuery best-of-N, soak
    * ladders) then hold at most one generation of copies instead of
    * accumulating unbounded disk until exit.
    */
  def releasePrivateCopies(): Unit = {
    var p = outstandingCopies.poll()
    while (p != null) {
      try rmTree(p)
      catch { case _: Exception => () }
      p = outstandingCopies.poll()
    }
  }

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }
}
