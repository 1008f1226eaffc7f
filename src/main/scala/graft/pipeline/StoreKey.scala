package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Key parts shared by [[ClassifierStore]], [[TrainedIndexStore]] and
  * [[DedupStore]].
  *
  * A corpus is identified by its resolved input files AND each file's
  * current size and modification time, so rewriting a parquet path in
  * place (same file names, new bytes) misses the store instead of
  * serving the artifact trained on the old data. The status is read
  * from the file system at lookup time, not from the DataFrame's
  * cached file listing, so a frame opened before the rewrite keys the
  * same as a fresh read. A rewrite that keeps both the size and the
  * millisecond mtime of every file is not detected.
  */
private[pipeline] object StoreKey {
  def md5(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  /** md5 over `path:size:mtime` of every input file, in path order. */
  def inputFingerprint(df: DataFrame): String = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    md5(df.inputFiles.sorted.map { f =>
      val p = new Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"$f:${st.getLen}:${st.getModificationTime}"
    }.mkString(","))
  }
}
