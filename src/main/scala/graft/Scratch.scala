package graft

/** Scratch-space placement for per-run THROWAWAY artifacts. */
object Scratch {

  /** Ephemeral streaming-checkpoint dir (created fresh per drain, deleted
    * right after): prefer RAM (tmpfs `/dev/shm`) over the default temp
    * dir. On an ext4 `/tmp`, every HDFS-backed state-store commit fsyncs
    * a delta file — measured ~60 ms per store per batch
    * (dev/DRAIN_PROFILE.md), i.e. ~240 ms of pure disk-sync wall per
    * micro-batch for a stream-stream join's 4 stores — for metadata that
    * is deleted seconds later. Durable checkpoints (restart/replay specs,
    * real deployments) pass their own locations and are unaffected; a
    * box without a writable `/dev/shm` transparently falls back to the
    * standard temp dir.
    */
  def ephemeralCkptDir(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base, prefix)
  }

  /** Deletes `f` and everything under it; a missing path is a no-op. */
  private[graft] def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }
}
