package graft.io

/** Collision-resistant name suffix for materialized layouts keyed by
  * source dir (first 16 hex of md5 over the full path). The previous
  * 32-bit `String.hashCode` suffix had a silent-wrong-data failure
  * class: a collision between two source dirs would make the memoized
  * tableExists/path check serve one dir's layout for the other
  * (round-9 ADVICE). 64 bits of md5 makes that a non-event, and the
  * digest is stable across JVMs, unlike hashCode's contract. */
private[io] object LayoutDigest {
  def apply(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
}

/** A fresh process-lifetime temp dir, deleted recursively at JVM
  * shutdown: the root under which layouts (and the session warehouse)
  * are written. */
private[graft] object TempDir {
  def apply(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(p.toFile)))
    p
  }

  private def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
