package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

/** Version-commit discipline shared by the versioned incremental
  * stores. The add-based families ([[IncrementalQuantile]],
  * [[IncrementalCountMin]], [[IncrementalLogHistogram]]) are the
  * sharpest case — summed cells fold a PARTIAL predecessor into a
  * silent permanent under-count — but the guard protects every
  * versioned reader ([[IncrementalHll]], [[IncrementalComponents]],
  * [[IncrementalForecast]], [[IncrementalDailyMoments]]) the same way:
  * idempotent merge ops (register max, label union) do NOT defend
  * against a torn directory, because torn means ROWS ARE MISSING —
  * groups absent from the partial files vanish from every later
  * version. The version-overwrite protocol makes replays rewrite
  * their own `v=N`; this adds the missing crash case: a torn write,
  * where `v=N` exists on disk but the job died mid-commit.
  *
  * Completeness is read off the `_SUCCESS` marker Spark's
  * FileOutputCommitter writes LAST (after every task file is moved
  * into place) — present ⇒ the directory is a complete committed
  * version; absent ⇒ torn. Requires the default
  * `mapreduce.fileoutputcommitter.marksuccessfuljobs=true` (these
  * stores never disable it).
  */
private[streaming] object StoreProtocol {

  /** Fails fast when an EXISTING predecessor version directory lacks
    * its `_SUCCESS` commit marker. Recovery is the protocol itself:
    * replaying the torn version's batch rewrites the directory whole
    * (mode overwrite), which is exactly what a restarted stream's
    * checkpoint does with the uncommitted batch.
    */
  def requireCommitted(fs: FileSystem, versionDir: Path, store: String,
                       batchId: Long): Unit = {
    if (!fs.exists(new Path(versionDir, "_SUCCESS")))
      throw new IllegalStateException(
        s"$store store version torn: $versionDir exists without its " +
          s"_SUCCESS commit marker — a crash mid-write. Replay batch " +
          s"${batchId - 1} to rewrite the version (the overwrite " +
          "protocol recovers it); refusing to fold a partial grid " +
          "forward.")
  }
}
