package graft.tools

/** Recall forensics: print e07's audited recall per ANN path for a
  * fixture dir (default sf0.001). The per-round BASELINE notes record
  * these numbers so codebook/sketch changes can be held to a
  * non-decreasing-recall bar (PqIndexSpec pins the r7 -> r8 step). */
object RecallSnap {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val s = graft.jobs.Jobs.buildSession("graft-recall-snap")
    graft.operators.Embeddings.e07RecallAudit(s, dir).collect()
      .foreach(r => println(s"[recall] ${r.getString(0)} ${r.getLong(2)}/${r.getLong(1)} = ${r.getDouble(3)}"))
    s.stop()
  }
}
