package perfbench

/** `corpus`: the LLM-data path, with writes beside reads beside
  * curation. One client runs ingest batches (commit, snapshot read,
  * checks; see [[Ingest]]) for the first half of the window, then
  * curation passes (see [[Curate]]) for the second half. The phases are
  * not interleaved: in a trial on the reference host the first commit
  * after a curation pass took 1.4–1.7 s against about 1.0 s, which would
  * put the commit median between two modes. The r-th set-up of the workload is the r-th
  * set-up of both sides, so its time is the sum of theirs. */
object Corpus extends Workload {
  val minCommits = 10
  val minPasses = 2

  def run(ctx: Ctx): Outcome = {
    val in = new Ingest(ctx)
    val cu = new Curate(ctx)
    val setupS = (1 to Main.setupReps).map(r => in.setup(r) + cu.setup(r))
    Main.log(s"set-up done: ${setupS.map(v => f"$v%.2f").mkString(" ")} s")
    val start = System.nanoTime()
    while (System.nanoTime() < ctx.deadline(start, 0.5) || in.commits < minCommits) in.step()
    cu.warmup()
    while (System.nanoTime() < ctx.deadline(start, 1.0) || cu.passes < minPasses) cu.step()
    val i = in.outcome()
    val c = cu.outcome()
    Outcome(i.attempted + c.attempted, i.failed + c.failed, setupS,
      Map("primary_p50_ms" -> i.e2e("primary_p50_ms"),
        "secondary_p50_ms" -> c.e2e("primary_p50_ms"),
        "items_per_s" -> c.e2e("items_per_s")),
      i.layer ++ c.layer ++ Map(
        "primary_mean_ms" -> i.layer("primary_mean_ms"),
        "secondary_mean_ms" -> c.layer("primary_mean_ms"),
        "curate.minhash_pass_p50_ms" -> c.e2e("secondary_p50_ms")),
      Seq("primary_p50_ms" -> "commit_p50_ms", "secondary_p50_ms" -> "pipeline_curation pass p50",
        "items_per_s" -> "curate_docs_per_s"),
      "commit", "pass")
  }
}
