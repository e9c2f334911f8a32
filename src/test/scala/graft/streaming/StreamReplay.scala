package graft.streaming

/** Exactly-once checks for the stateful stream specs. */
object StreamReplay {

  /** Delete the newest commit of the stream checkpointed under
    * root/checkpoint, so that its next start re-runs that batch. */
  def dropNewestCommit(root: String): Unit = {
    val dir = new java.io.File(s"$root/checkpoint/commits")
    val n = dir.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    Seq(s"$n", s".$n.crc").foreach(f => new java.io.File(dir, f).delete())
  }

  /** The dir names under root/sub, sorted. */
  def dirs(root: String, sub: String): Seq[String] =
    new java.io.File(s"$root/$sub").list().toSeq.sorted
}
