package graft.util

/** Temp directory with recursive delete at JVM exit — the shared
  * scaffolding of the memoized per-corpus fixtures and index builds
  * (and the probes' scratch tables): the one place a shutdown hook is
  * registered, so a fix to deletion can't silently miss a copy.
  */
object TempDirs {
  def createWithCleanup(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(d))
    }
    d
  }
}
