package graft.ops

/** Test-side manifest surgery: rewrite every manifest copy of a local
  * store — each version's `_MANIFEST` AND the root `_CURRENT`, which
  * carries the same content — dropping Hadoop's checksum sidecars so
  * local-FS reads don't fail on ChecksumException. */
object ManifestRewrite {
  def apply(storeRoot: String)(f: String => String): Unit = {
    val rootDir = new java.io.File(storeRoot)
    val files = (Option(rootDir.listFiles).getOrElse(Array.empty)
      .filter(_.isDirectory).map(d => new java.io.File(d, "_MANIFEST")) :+
      new java.io.File(rootDir, "_CURRENT")).filter(_.isFile)
    require(files.nonEmpty, s"no manifest under $storeRoot")
    files.foreach { file =>
      val txt = new String(
        java.nio.file.Files.readAllBytes(file.toPath), "UTF-8")
      java.nio.file.Files.write(file.toPath, f(txt).getBytes("UTF-8"))
      val crc = new java.io.File(file.getParentFile, "." + file.getName +
        ".crc")
      if (crc.isFile) { crc.delete(); () }
    }
  }
}
