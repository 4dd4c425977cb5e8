package newsbench

/** Noise sentinels, defined as in `graft.Bench`: a fixed serial CPU
  * loop, the same loop on every core at once, and fsync'd writes. They
  * measure the machine, not the program, and are printed beside the
  * metrics so a loaded machine shows in the output. The loops are a
  * quarter of `Bench`'s length to keep a run short.
  */
object Sentinels {

  private def xorshiftLoop(): Long = {
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    acc
  }

  private def timed(f: => Long): Double = {
    val t0 = System.nanoTime()
    if (f == 42L) System.err.println("sentinel: improbable accumulator")
    (System.nanoTime() - t0) / 1e9
  }

  def serialSec(): Double = timed(xorshiftLoop())

  def parallelSec(threads: Int): Double = timed {
    val acc = new java.util.concurrent.atomic.AtomicLong()
    val ts = (1 to threads).map(_ => new Thread(() => { acc.addAndGet(xorshiftLoop()); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    acc.get()
  }

  /** 64 × 128 KiB appends, each fsync'd, to a file under `dir`. */
  def fsyncSec(dir: String): Double = {
    val f = java.nio.file.Files.createTempFile(java.nio.file.Paths.get(dir), "probe", ".bin")
    val ch = java.nio.channels.FileChannel.open(f, java.nio.file.StandardOpenOption.WRITE)
    val buf = java.nio.ByteBuffer.allocate(128 * 1024)
    val t0 = System.nanoTime()
    try {
      var i = 0
      while (i < 64) {
        buf.clear()
        while (buf.hasRemaining) buf.putLong(i.toLong * buf.position())
        buf.flip()
        while (buf.hasRemaining) ch.write(buf)
        ch.force(true)
        i += 1
      }
    } finally {
      ch.close()
      java.nio.file.Files.deleteIfExists(f)
    }
    (System.nanoTime() - t0) / 1e9
  }

  def all(threads: Int, dir: String): Map[String, Double] =
    Map("serial_s" -> serialSec(), "parallel_s" -> parallelSec(threads),
      "fsync_s" -> fsyncSec(dir))
}
