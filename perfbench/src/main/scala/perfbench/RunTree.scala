package perfbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path, StandardOpenOption}
import java.security.MessageDigest
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

/** Seeded generator of the instrument's watch tree: plate directories holding
  * `<base>.d` run directories of `f<i>.raw` files. File bodies are scan-list
  * text (about 3:1 under gzip, like real vendor run data), derived from
  * (seed, plate, base, file, generation) only — so one seed always yields
  * byte-identical trees, whatever order runs are written in.
  */
object RunTree {

  def rng(seed: Long, key: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ key.hashCode.toLong * 0xC2B2AE3D27D4EB4FL)

  /** `size` bytes of scan lines, deterministic in (seed, key). */
  def body(seed: Long, key: String, size: Int): Array[Byte] = {
    val r = rng(seed, key)
    val sb = new java.lang.StringBuilder(size + 64)
    var scan = 0
    while (sb.length < size) {
      scan += 1
      sb.append("scan=").append(scan)
        .append(" mz=").append(100 + r.nextInt(1900)).append('.').append(r.nextInt(100))
        .append(" i=").append(r.nextInt(100000)).append('\n')
    }
    sb.setLength(size)
    sb.toString.getBytes(US_ASCII)
  }

  /** Write one complete run `<watch>/<plate>/<base>.d` of `files` files. */
  def writeRun(watch: Path, plate: String, base: String, files: Int, fileBytes: Int, seed: Long): Path = {
    val run = watch.resolve(plate).resolve(s"$base.d")
    Files.createDirectories(run)
    for (i <- 0 until files)
      Files.write(run.resolve(s"f$i.raw"), body(seed, s"$plate/$base/f$i", fileBytes))
    run
  }

  /** An acquisition still in progress: append one more chunk to `f0.raw`. */
  def grow(run: Path, chunkBytes: Int, seed: Long, generation: Int): Unit =
    Files.write(run.resolve("f0.raw"),
      body(seed, s"${run.getParent.getFileName}/${run.getFileName}/g$generation", chunkBytes),
      StandardOpenOption.APPEND)

  /** Digest of every file under `root` (relative path and bytes). */
  def digest(root: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
    files.map(p => root.relativize(p).toString -> p).sortBy(_._1).foreach { case (rel, p) =>
      md.update(rel.getBytes(US_ASCII)); md.update(Files.readAllBytes(p))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
