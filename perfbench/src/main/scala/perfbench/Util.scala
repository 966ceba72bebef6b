package perfbench

/** Statistics, file and JSON helpers shared by the workloads. */
object Util {

  private val t0 = System.nanoTime()

  /** Memory the JVM retains, in MB: the heap in use after a full
    * collection, plus memory outside the heap (metaspace, code cache,
    * direct buffers). Unlike the resident size, it does not move with the
    * collector's heap-sizing decisions. Call it outside timed regions.
    */
  def retainedMb(): Double = {
    // the first collection lets Spark's ContextCleaner see which
    // broadcasts and shuffles died; the second frees what it released
    System.gc()
    Thread.sleep(500)
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val direct = java.lang.management.ManagementFactory
      .getPlatformMXBeans(classOf[java.lang.management.BufferPoolMXBean])
      .toArray(Array.empty[java.lang.management.BufferPoolMXBean]).map(_.getMemoryUsed).sum
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed + direct) / 1048576.0
  }

  /** Progress line on standard error, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.toIndexedSeq.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Regular files under `dir` (recursively), skipping checksum and
    * marker files.
    */
  def dataFiles(dir: java.io.File): Seq[java.io.File] =
    if (!dir.exists()) Seq.empty
    else if (dir.isFile) Seq(dir).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    else Option(dir.listFiles()).toSeq.flatten.flatMap(dataFiles)

  def jsonStr(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  /** Minimal JSON rendering for maps, sequences, strings, numbers and
    * booleans.
    */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => jsonStr(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => jsonStr(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"cannot render ${other.getClass}")
  }
}
