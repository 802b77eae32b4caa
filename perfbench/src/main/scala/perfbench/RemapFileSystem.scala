package perfbench

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** `file:` filesystem that reads one directory prefix from another place.
  *
  * Some catalog queries read fixture parquet through an absolute path fixed
  * where the catalog was written. A checkout elsewhere holds the same files
  * under its own `fixtures/`; this redirects `perfbench.remap.from` to
  * `perfbench.remap.to` (both set as `spark.hadoop.*`) and leaves every
  * other path alone. Statuses keep the requested path, as Spark's file
  * index matches listed files against the paths it asked for. */
class RemapFileSystem extends LocalFileSystem(new RemapRawFileSystem)

class RemapRawFileSystem extends RawLocalFileSystem {
  private var from: String = _
  private var to: String = _

  override def initialize(uri: java.net.URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    from = conf.get("perfbench.remap.from")
    to = conf.get("perfbench.remap.to")
  }

  private def swap(p: String, a: String, b: String): Option[String] =
    if (a != null && (p == a || p.startsWith(a + "/"))) Some(b + p.substring(a.length))
    else None

  override def pathToFile(path: Path): File = {
    val f = super.pathToFile(path)
    swap(f.getPath, from, to).map(new File(_)).getOrElse(f)
  }

  private def requested(asked: Path)(s: FileStatus): FileStatus = {
    val plain = (p: Path) => Path.getPathWithoutSchemeAndAuthority(p).toString
    if (swap(plain(asked), from, to).isDefined)
      swap(plain(s.getPath), to, from).foreach(p => s.setPath(makeQualified(new Path(p))))
    s
  }

  override def getFileStatus(p: Path): FileStatus = requested(p)(super.getFileStatus(p))

  override def listStatus(p: Path): Array[FileStatus] =
    super.listStatus(p).map(requested(p))
}
