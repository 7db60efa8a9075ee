package perfbench

/** The rounds a run makes: one warm-up round (class loading, code
  * generation, the first JIT tier), then `Measured` rounds whose median
  * is reported. Every round is sized to drain in about `--seconds` /
  * `Measured` at the nominal rate. A traced run traces the last round; the
  * one before it is the untraced reference. */
object Rounds {
  val Measured = 3

  final case class Run(warmup: RoundResult, rounds: Vector[RoundResult])

  def run(wl: Workloads, a: Main.Args, tracer: Option[Tracer]): Run = {
    val w = a.workload
    // notify is in backlog's window; for saga it runs only when traced
    val notify = w == "backlog" || tracer.isDefined
    val per = a.seconds.toDouble / Measured
    val warm = wl.round(w, s"$w-warmup", per, notify)
    Run(warm, Vector.tabulate(Measured) { i =>
      def body = wl.round(w, s"$w-r${i + 1}", per, notify)
      tracer match {
        case Some(t) if i == Measured - 1 => t.traced(body)
        case _ => body
      }
    })
  }
}
