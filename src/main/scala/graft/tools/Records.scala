package graft.tools

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** The committed JSONL trail under `records/` of the measurement mains
  * ([[TwsBench]], [[MediaDedupBench]], [[PackDeltaBench]]). */
object Records {

  /** The repo root, so a relative `records/<name>.jsonl` path lands in the
    * committed tree no matter where the JVM was launched. Order:
    * `-Dgraft.repo.root` / `GRAFT_REPO_ROOT`, else walk up from CWD to
    * the first directory holding `build.sbt`. No root found = loud
    * failure: a lost reading is worse than a crashed tool run. */
  private[graft] def repoRoot(): Path =
    sys.props.get("graft.repo.root").orElse(sys.env.get("GRAFT_REPO_ROOT")) match {
      case Some(r) => Paths.get(r)
      case None =>
        var d = Paths.get("").toAbsolutePath
        while (d != null && !Files.exists(d.resolve("build.sbt"))) d = d.getParent
        if (d == null) throw new IllegalStateException(
          "[records] cannot locate repo root (no build.sbt above CWD); " +
            "set GRAFT_REPO_ROOT or -Dgraft.repo.root")
        d
    }

  /** Appends one JSON line to a committed records file (created with
    * parents on first use), stamped with a `round` field taken from
    * `-Dgraft.round` / `GRAFT_ROUND` so rows stay distinguishable across
    * rounds. A failed append throws. */
  private[tools] def append(path: String, line: String): Unit = {
    val round = sys.props.get("graft.round").orElse(sys.env.get("GRAFT_ROUND"))
      .getOrElse("unset")
    val stamped =
      if (line.endsWith("}")) line.dropRight(1) + s""","round":"$round"}"""
      else line
    val p = repoRoot().resolve(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, stamped + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
