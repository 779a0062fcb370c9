package graft.queries

/** Self-healing stage-once registry for side tables under
  * `/tmp/graft_oracle`.
  *
  * Several query families (NearDup signatures/bands, TpcH ps/late,
  * ScaleOps bucketed layout) materialize a side table once per
  * (JVM, SF dir) and reuse it — the production index-once/read-many
  * shape. Round 11's single red correctness row came from the failure
  * mode this object closes: a JVM-lifetime path cache trusted a staged
  * path whose files had vanished from /tmp between uses (external
  * cleaner or overwrite race), so a later reader — including the DuckDB
  * oracle, which replays some of these tables — died on "No files
  * found" while the cache said everything was fine.
  *
  * The rule: a cache hit is only a hit if the parquet files are still
  * on disk. Otherwise the writer runs again. Staging writers are
  * idempotent (mode("overwrite"), deterministic content), so a re-stage
  * is always safe — it costs one extra write, never wrong data.
  */
object Staging {
  private val staged = scala.collection.concurrent.TrieMap[String, String]()

  /** The directory holding every side table staged for fixture directory
    * `sfDir`: its basename plus a hash of the whole path, so two fixture
    * directories with one basename never share (or overwrite) side
    * tables. Oracle SQL names this directory `__SIDE__`. */
  def sideDir(sfDir: String): String =
    s"/tmp/graft_oracle/${new java.io.File(sfDir).getName}_${Integer.toHexString(sfDir.hashCode)}"

  /** True iff `path` is a directory holding at least one non-empty
    * parquet part file — i.e. both Spark and DuckDB can read it. */
  def hasParquet(path: String): Boolean = {
    val files = new java.io.File(path).listFiles()
    files != null && files.exists(f => f.getName.endsWith(".parquet") && f.length() > 0)
  }

  /** Run `write(path)` once per (JVM, key) — unless the previously
    * staged files are gone, in which case stage again. Synchronized:
    * concurrent callers of the same key must not overwrite a directory
    * another thread is reading mid-stage. */
  def parquetOnce(key: String, path: String)(write: String => Unit): String =
    staged.synchronized {
      if (!staged.get(key).exists(hasParquet)) {
        write(path)
        staged.put(key, path)
      }
      staged(key)
    }

  /** Multi-artifact variant: one writer produces a GROUP of parquet
    * dirs that are only consistent together (e.g. a trained ANN index's
    * codebooks + codes + probes — retraining must replace all of them
    * or none). Healthy = this JVM staged the group AND every path still
    * has files; anything less re-runs the writer, which also lets the
    * caller re-populate any in-memory model object (codebooks) inside
    * the closure, keeping memory and disk in lockstep. */
  def parquetGroupOnce(key: String, paths: Seq[String])(write: () => Unit): Unit =
    staged.synchronized {
      if (!(staged.contains(key) && paths.forall(hasParquet))) {
        val t0 = System.nanoTime()
        write()
        System.err.println(f"[stage] $key staged in ${(System.nanoTime() - t0) / 1e9}%.2f s (one-time per JVM+dir; excluded from timed medians by design)")
        staged.put(key, paths.mkString(","))
      }
    }

  /** Visible for the self-healing spec: forget a key so the next
    * parquetOnce re-checks the disk. (Production code never needs this —
    * the disk check alone heals — but the spec uses it to also prove the
    * cold-cache path.) */
  private[graft] def invalidate(key: String): Unit = staged.remove(key)

  // ---- localCheckpoint block release (r22, advice item) --------------
  //
  // localCheckpoint blocks are pinned (the checkpoint truncates lineage,
  // so they are non-recomputable) and — verified empirically on Spark
  // 4.1.2 — `Dataset.unpersist()` does NOT release them: the
  // checkpointed Dataset is a LogicalRDD over an internally persisted
  // RDD that the public Dataset API never reaches (uncacheQuery only
  // drops InMemoryRelation caches; sc.getPersistentRDDs still lists the
  // block after unpersist()). Until r22 every "unpersist" of a
  // checkpoint in this codebase was therefore a no-op, and a bench /
  // verify session retained one checkpoint per invocation for the JVM
  // lifetime (reclaimed only when the ContextCleaner happened to GC the
  // dropped reference). The helpers below capture the persisted RDD the
  // checkpoint actually added — by diffing getPersistentRDDs around the
  // eager checkpoint, under a lock so the diff cannot swallow a
  // concurrent persist — and release THAT.

  private val cpLock = new Object
  private val lastCheckpoint =
    scala.collection.mutable.Map.empty[String, Seq[org.apache.spark.rdd.RDD[_]]]

  /** Eagerly localCheckpoint `df`, returning the checkpointed frame and
    * handles to the persisted RDDs the checkpoint pinned. Releasing the
    * handles frees the blocks FOR REAL; the checkpointed frame is then
    * no longer executable (lineage was cut), so release only after its
    * consumers have finished. */
  def checkpointWithHandles(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) =
    cpLock.synchronized {
      val sc = df.sparkSession.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val cp = df.localCheckpoint()
      val added = sc.getPersistentRDDs.collect {
        case (id, r) if !before(id) => r
      }.toSeq
      (cp, added)
    }

  /** Free checkpoint blocks obtained from [[checkpointWithHandles]].
    * Never throws — a release race with session shutdown must not fail
    * the query that already produced its result. */
  def releaseCheckpoint(handles: Seq[org.apache.spark.rdd.RDD[_]]): Unit =
    handles.foreach { r =>
      try r.unpersist(blocking = false) catch { case _: Throwable => () }
    }

  /** Checkpoint `df`, releasing the blocks the SAME site pinned on its
    * previous invocation (superseded-checkpoint discipline). The
    * per-query aggregate checkpoints (h15/h11/d11/t52/t54/t56) are
    * eager and fully consumed before the query is invoked again —
    * bench warmup/timed runs and Verify are strictly sequential — so
    * the session retains at most ONE live checkpoint per site instead
    * of one per invocation. */
  def checkpointSuperseding(key: String, df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val (cp, handles) = checkpointWithHandles(df)
    supersedeHandles(key, handles)
    cp
  }

  /** Register `handles` under `key`, releasing whatever the key held
    * before — for call sites (n54's final labels checkpoint) whose
    * frame must stay live until the NEXT invocation of the same query,
    * not until the next statement. */
  def supersedeHandles(key: String,
                       handles: Seq[org.apache.spark.rdd.RDD[_]]): Unit = {
    val old = cpLock.synchronized { lastCheckpoint.put(key, handles) }
    old.foreach(releaseCheckpoint)
  }
}
