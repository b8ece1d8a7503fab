package perfbench

/** Benchmark self-test: a small traced run of every workload must pass its
  * checks, and each injected fault must be caught by the checks. The runs
  * share this one JVM, so their set-up times are not cold.
  */
object SelfTest {
  def run(work: String): Boolean = {
    val smoke = Workloads.names.map { w =>
      (s"smoke $w", true, Main.Args(workload = w, seconds = 0, trace = true, scale = 0.05))
    }
    val faults = Seq(
      ("crawl_mix", Fault.FlipDigest, "flip_digest"),
      ("near_dup", Fault.DropEdge, "drop_edge"),
      ("crawl_mix", Fault.DropGroup, "drop_group")
    ).map { case (w, f, label) =>
      (s"fault $label on $w is detected", false, Main.Args(workload = w, seconds = 0, scale = 0.05, fault = f))
    }
    val outcomes = (smoke ++ faults).zipWithIndex.map { case ((label, wantCorrect, args), i) =>
      val r = Main.runWorkload(args.copy(work = s"$work/selftest-$i"))
      val ok = r.correct == wantCorrect
      println(s"selftest ${if (ok) "ok  " else "FAIL"} $label" +
        (if (r.errors.isEmpty) "" else r.errors.mkString(" (", "; ", ")")))
      ok
    }
    outcomes.forall(identity)
  }
}
