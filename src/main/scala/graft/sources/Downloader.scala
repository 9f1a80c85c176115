package graft.sources

import java.io.{BufferedInputStream, FileOutputStream}
import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

/** Streaming downloader with URL-keyed cache + per-URL locks
  * (`src/g_etl/utils/downloader.py:22-93`; cache pattern
  * `zip_geopackage.py:15-57`). Driver-side utility: it fetches WFS and
  * REST responses, and `http(s)` archives before the archive reader
  * scans them. `file://` URLs are served by copy.
  */
object Downloader {

  private val locks = new ConcurrentHashMap[String, Object]()

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Fetch `url` into `cacheDir`, reusing a cached copy; concurrent
    * fetches of the same URL serialize on a per-URL lock. */
  def fetch(url: String, cacheDir: String,
      headers: Map[String, String] = Map.empty): Path = {
    val cache = Paths.get(cacheDir)
    Files.createDirectories(cache)
    val suffix = url.split('/').last.takeRight(64).replaceAll("[^A-Za-z0-9._-]", "_")
    val target = cache.resolve(s"${md5(url)}_$suffix")
    val lock = locks.computeIfAbsent(url, _ => new Object)
    lock.synchronized {
      if (Files.exists(target) && Files.size(target) > 0) return target
      val tmp = Files.createTempFile(cache, "dl_", ".part")
      try {
        val uri = URI.create(url)
        uri.getScheme match {
          case "file" =>
            Files.copy(Paths.get(uri), tmp,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          case "http" | "https" =>
            val conn = uri.toURL.openConnection().asInstanceOf[HttpURLConnection]
            conn.setConnectTimeout(30000)
            conn.setReadTimeout(300000)
            headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
            val in = new BufferedInputStream(conn.getInputStream)
            val out = new FileOutputStream(tmp.toFile)
            try {
              val buf = new Array[Byte](8192) // 8 KB chunks (downloader.py)
              var n = in.read(buf)
              while (n >= 0) {
                out.write(buf, 0, n)
                n = in.read(buf)
              }
            } finally { in.close(); out.close() }
          case other =>
            throw new IllegalArgumentException(s"unsupported URL scheme: $other")
        }
        Files.move(tmp, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        target
      } finally Files.deleteIfExists(tmp)
    }
  }
}
