package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Process-wide readings taken from public JVM and Hadoop statistics. */
object Probe {

  /** Bytes from Hadoop's FileSystem statistics, summed over every
    * scheme, and operation counts from [[CountingFs]] (zero unless it is
    * installed). In local mode the executors share the driver's JVM, so
    * this covers both. */
  final case class Fs(readOps: Long, writeOps: Long, listOps: Long, bytesRead: Long, bytesWritten: Long) {
    def -(o: Fs): Fs = Fs(readOps - o.readOps, writeOps - o.writeOps, listOps - o.listOps,
      bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  }

  @annotation.nowarn("cat=deprecation")
  def fs(): Fs = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Fs(CountingFs.opens.get, CountingFs.mutations.get, CountingFs.lists.get,
      all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap still in use after full collections: what the run's state
    * (caches, memos, listeners' stores, broadcast blocks the context
    * cleaner has not freed yet) holds on to, in MB. */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The process's peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  def jvmStartMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(dirBytes).sum

  def children(f: File): Set[String] =
    Option(f.listFiles()).getOrElse(Array.empty[File]).filter(_.isDirectory).map(_.getName).toSet

  // The calibration anchors: the same fixed-work loops as graft.Bench's,
  // run at a tenth of its CPU iteration count and a quarter of its IO size,
  // so together they cost about a second.
  @volatile private var sink = 0L

  private def cpuRep(iters: Long): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < iters) {
      h ^= i
      h *= 0xFF51AFD7ED558CCDL
      h ^= (h >>> 33)
      i += 1L
    }
    sink = h
    (System.nanoTime() - t0) / 1e9
  }

  private def median3(f: => Double): Double = Seq.fill(3)(f).sorted.apply(1)

  val CpuIters = 40000000L

  /** (single-thread seconds, `par`-thread wall seconds), median of 3. */
  def cpuAnchor(par: Int): (Double, Double) = {
    cpuRep(CpuIters / 8)
    val st = median3(cpuRep(CpuIters))
    val pw = median3 {
      val t0 = System.nanoTime()
      val ts = (0 until par).map { _ => val t = new Thread(() => { cpuRep(CpuIters); () }); t.start(); t }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    (st, pw)
  }

  val IoMiB = 16

  /** Writes `IoMiB` MiB of a fixed pattern under `dir`, fsyncs, reads
    * it back and deletes it; median of 3, in seconds. */
  def ioAnchor(dir: File): Double = median3 {
    import java.nio.ByteBuffer
    import java.nio.channels.FileChannel
    import java.nio.file.StandardOpenOption._
    dir.mkdirs()
    val p = new File(dir, s"_anchor_${System.nanoTime()}.bin").toPath
    val block = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val t0 = System.nanoTime()
    try {
      val ch = FileChannel.open(p, CREATE, WRITE)
      try { (0 until IoMiB).foreach(_ => ch.write(ByteBuffer.wrap(block))); ch.force(true) }
      finally ch.close()
      val in = FileChannel.open(p, READ)
      try {
        val buf = ByteBuffer.allocate(1 << 20)
        var n = 0L
        while (in.read(buf) >= 0) { n += buf.position(); buf.clear() }
        sink ^= n
      } finally in.close()
      (System.nanoTime() - t0) / 1e9
    } finally java.nio.file.Files.deleteIfExists(p)
  }
}
