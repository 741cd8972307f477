package graft

/** Driver-side helpers shared across operators and runners. */
object DriverOps {

  /** Independent fits run on a fixed pool of min(fits, 8) driver
    * threads; results come back in input order. Each fit must be a pure
    * function of its inputs, so the result equals the serial run. */
  def concurrently[A](fits: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(fits.size, 8)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(fits.map(f => Future(f()))), Duration.Inf)
    finally pool.shutdown()
  }

  /** Rows in parquet `files` from their footers — the row-group counts a
    * `count()` over the same files reads, without a Spark job. */
  def footerRows(conf: org.apache.hadoop.conf.Configuration,
                 files: Iterable[org.apache.hadoop.fs.Path]): Long =
    files.iterator.map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try r.getRecordCount finally r.close()
    }.sum

  /** Rows of the flat parquet directory `dir` (its visible data files)
    * from their footers. */
  def footerRows(conf: org.apache.hadoop.conf.Configuration,
                 dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    footerRows(conf, p.getFileSystem(conf).listStatus(p).iterator
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(_.getPath).toSeq)
  }
}
