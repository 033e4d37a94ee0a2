package graft.registry

import org.apache.spark.sql.SparkSession
import graft.sources.HadoopFs

/** Remote-registry synchronization (ref: dsgrid/cloud/s3_storage_interface
  * .py — pull/push a registry tree to shared storage under a lock file;
  * cloud/fake_storage_interface.py is the reference's own test strategy of
  * a filesystem-backed fake). Instead of binding to one vendor SDK, graft
  * syncs through the Hadoop FileSystem API: the same code moves a registry
  * between local disk, HDFS and any object store with a Hadoop connector —
  * no proprietary dependencies, and the lock/copy semantics are identical
  * in tests (file:// paths) and production. */
trait StorageInterface {

  /** Copy the remote registry tree to a local root (down-sync). */
  def pull(remoteRoot: String, localRoot: String): Unit

  /** Publish a local registry tree to the remote root (up-sync), under
    * the remote lock so concurrent writers serialize. */
  def push(localRoot: String, remoteRoot: String): Unit

  /** Run `f` holding an exclusive lock file at `lockPath`. */
  def withLock[T](lockPath: String)(f: => T): T
}

/** Hadoop-FS implementation. Lock acquisition by filesystem:
  *  - `file://` — NIO `Files.createFile` (O_EXCL): truly atomic; Hadoop's
  *    LocalFileSystem `create(overwrite = false)` is exists-then-create
  *    and admits two holders under scheduling delay (caught by the
  *    concurrency spec);
  *  - HDFS-like stores — `create(overwrite = false)` is atomic at the
  *    namenode;
  *  - S3-style stores — create-if-absent plus a WRITE-TOKEN VERIFY (the
  *    acquirer writes a unique token, waits a settle delay, reads it
  *    back; only the surviving writer holds) — the same best-effort
  *    exclusion the reference's lock files provide.
  * The token records host/pid/uuid for post-mortem of stale locks, and
  * acquisition polls until `timeoutMs` before failing — a crashed
  * holder's lock must be removed by an operator, as in the reference. */
final class HadoopStorage(
    spark: SparkSession,
    timeoutMs: Long = 60000L,
    pollMs: Long = 100L,
    verifyDelayMs: Long = 50L) extends StorageInterface {

  override def withLock[T](lockPath: String)(f: => T): T = {
    val lp = new org.apache.hadoop.fs.Path(lockPath)
    val filesystem = HadoopFs.fs(spark, lp)
    val token =
      s"${java.net.InetAddress.getLocalHost.getHostName}|${ProcessHandle.current().pid()}|${java.util.UUID.randomUUID()}"
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def tryAcquire(): Boolean =
      if (filesystem.getScheme == "file") {
        val nio = java.nio.file.Paths.get(lp.toUri.getPath)
        Option(nio.getParent).foreach(java.nio.file.Files.createDirectories(_))
        try java.nio.file.Files.createFile(nio)
        catch { case _: java.nio.file.FileAlreadyExistsException => return false }
        java.nio.file.Files.writeString(nio, token)
        true
      } else {
        val out =
          try filesystem.create(lp, false)
          catch { case _: java.io.IOException => return false }
        try out.write(token.getBytes("UTF-8"))
        finally out.close()
        // let a racing writer's create+write land before verifying ownership
        Thread.sleep(verifyDelayMs)
        try HadoopFs.readText(spark, lockPath) == token
        catch { case _: java.io.IOException => false }
      }
    while (!tryAcquire()) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"could not acquire registry lock $lockPath within ${timeoutMs} ms " +
            s"(holder: ${try HadoopFs.readText(spark, lockPath) catch { case _: Exception => "unknown" }})")
      Thread.sleep(pollMs)
    }
    try f
    finally filesystem.delete(lp, false)
  }

  override def pull(remoteRoot: String, localRoot: String): Unit =
    copyTree(remoteRoot, localRoot)

  override def push(localRoot: String, remoteRoot: String): Unit =
    withLock(s"$remoteRoot.lock")(copyTree(localRoot, remoteRoot))

  /** Recursive copy-over (existing destination files are replaced; files
    * absent from the source are left in place — version subtrees are
    * immutable by convention, so sync only ever adds). */
  private def copyTree(srcRoot: String, dstRoot: String): Unit = {
    require(HadoopFs.exists(spark, srcRoot), s"sync source does not exist: $srcRoot")
    HadoopFs.copy(spark, srcRoot, dstRoot)
  }
}
