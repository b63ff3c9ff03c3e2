package graft.operators

import java.io.OutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}

/** Task-side file commit for the egress sinks (round-6 scale rework,
  * guide §5/§6): streams go through the Hadoop FileSystem API resolved
  * from the task's configuration — the SAME code path writes file:,
  * hdfs: or s3a: — into a task-attempt temp file under `_temporary/`,
  * renamed onto the final name only when the write completed. That
  * rename-on-commit is what makes a speculative or retried attempt safe:
  * two attempts write DIFFERENT temp paths, and whichever renames first
  * wins; the loser sees the committed file and discards its own temp
  * (record content is deterministic per partition, so the two files are
  * byte-identical and either winner is correct). A reader can never
  * observe a torn final file, because final names only ever appear via
  * rename. */
private[operators] object SinkFiles {

  /** OutputStream wrapper counting bytes written (manifest n_bytes). */
  final class CountingOutputStream(under: OutputStream) extends OutputStream {
    private var n = 0L
    def count: Long = n
    override def write(b: Int): Unit = { under.write(b); n += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      under.write(b, off, len); n += len
    }
    override def flush(): Unit = under.flush()
    override def close(): Unit = under.close()
  }

  /** Stream one output file: open `dir/_temporary/attempt-<id>/<name>`,
    * hand the caller a counting stream (ONE record/entry in memory at a
    * time is the caller's contract), then commit via rename and drop the
    * attempt's temp dir, and `_temporary/` once no sibling attempt holds
    * it. Returns (final path, bytes written). */
  def writeCommitted(conf: Configuration, dir: String, fileName: String,
      attemptId: Long)(write: OutputStream => Unit): (String, Long) = {
    val finalPath = new Path(dir, fileName)
    val tmpRoot = new Path(dir, "_temporary")
    // one dir per attempt: a sibling removes `_temporary/` only while it is
    // empty, so never between this attempt's mkdirs and create
    val attemptDir = new Path(tmpRoot, s"attempt-$attemptId")
    val tmp = new Path(attemptDir, fileName)
    // a private instance, not the JVM-cached one: the no-checksum setting
    // must not leak into every other writer of this scheme
    val fs: FileSystem = FileSystem.newInstance(finalPath.toUri, conf)
    def dropTemps(): Unit =
      try {
        fs.delete(attemptDir, true)
        fs match {
          // RawLocalFileSystem checks emptiness, then deletes recursively:
          // a sibling's fresh attempt dir could vanish in between, so the
          // local case uses rmdir, which refuses a non-empty dir atomically
          case local: LocalFileSystem => local.pathToFile(tmpRoot).delete()
          case _ => fs.delete(tmpRoot, false)
        }
      } catch { case _: java.io.IOException => () } // a sibling still holds it
    try {
      fs.setWriteChecksum(false) // no .crc sidecars on the local/checksum FS
      fs.mkdirs(attemptDir)
      val out = new CountingOutputStream(fs.create(tmp, true))
      var ok = false
      try { write(out); ok = true } finally {
        // failed mid-write: drop the partial temp, keep dir clean
        try out.close() finally if (!ok) dropTemps()
      }
      if (!fs.rename(tmp, finalPath) && !fs.exists(finalPath))
        throw new java.io.IOException(s"sink commit failed: rename $tmp -> $finalPath")
      // a failed rename onto an existing final file means a sibling attempt
      // committed first — byte-identical by the sink's determinism
      // contract; ours is discarded with the temp dir
      dropTemps()
      (finalPath.toString, out.count)
    } finally fs.close()
  }
}
