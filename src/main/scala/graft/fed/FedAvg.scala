package graft.fed

import org.apache.spark.sql.DataFrame

import graft.model.{TrainedAutoencoder, Trainer, WindowModel}

/** M10/A5 — FedAvg over per-client datasets, without sockets.
  *
  * The reference runs N Docker clients exchanging pickled weights over
  * length-prefixed TCP each round
  * (`src/federated_learning/{training,aggregation,communication}.py`);
  * the server takes an UNWEIGHTED per-layer mean (`aggregation.py:60-89`).
  * In-engine, a "client" is a per-client DataFrame (one sensor channel
  * each, `config.yaml:52-67`); a round = each client fits locally
  * (distributed gradient inside the client's own partition set) → weights
  * collect to the driver (KBs) → elementwise mean → broadcast back.
  * Weight transport is the driver loop — the only data crossing the
  * driver is the weight vectors, matching §4.3's shuffle inventory.
  */
object FedAvg {

  /** A5 — unweighted elementwise mean of client weight vectors. */
  def aggregate(clientWeights: Seq[Array[Double]]): Array[Double] = {
    require(clientWeights.nonEmpty)
    val out = clientWeights.head.clone()
    clientWeights.tail.foreach { cw =>
      var i = 0
      while (i < out.length) { out(i) += cw(i); i += 1 }
    }
    var i = 0
    while (i < out.length) { out(i) /= clientWeights.length; i += 1 }
    out
  }

  /** The round protocol of [[run]] in isolation, deterministically: each
    * round every client takes one fixed step `w − lr·g_k` from the CURRENT
    * global and the server applies A5's unweighted elementwise mean — the
    * reference's round loop (`src/federated_learning/aggregation.py:91-102`)
    * with the nondeterministic training floats replaced by per-client
    * gradient vectors given as data. Because the update is linear, the
    * result is closed-form (`w0 − lr·R·mean_k g_k`) — which is what the
    * DuckDB oracle states, while this runs the actual iteration, so the
    * N-clients × R-rounds protocol itself is hash-checked.
    *
    * `init` = (dim, w) — the shared initial weights; `grads` = (client,
    * dim, g). Each round is a broadcast equi-join (the global weight
    * vector is KBs — the same weights-only transport as [[run]]) plus a
    * per-dim mean; no driver collect. The lazy chain re-embeds the
    * `grads` subtree every round, so plan analysis/codegen cost grows
    * with rounds — every `checkpointEvery` rounds the (KB-sized) global
    * is `localCheckpoint`ed and the previous checkpoint's blocks are
    * released (the bpeLearnBatched rotation), keeping the plan depth
    * bounded at any round count. The LAST checkpoint stays persisted:
    * the returned frame reads it — blocks live until the session drops
    * the frame, the winnowMatches lifetime contract.
    */
  def protocolRounds(init: DataFrame, grads: DataFrame,
                     rounds: Int, lr: Double, checkpointEvery: Int = 8): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    import org.apache.spark.sql.functions._
    var global = init
    var lastCp: Option[DataFrame] = None
    (1 to rounds).foreach { r =>
      val local = grads.join(broadcast(global), "dim")
        .select(col("client"), col("dim"),
          (col("w") - lit(lr) * col("g")).as("lw"))
      global = local.groupBy("dim").agg(avg(col("lw")).as("w"))
      if (r % checkpointEvery == 0 && r < rounds) {
        val next = global.localCheckpoint()
        lastCp.foreach(graft.core.Artifacts.release)
        lastCp = Some(next)
        global = next
      }
    }
    global
  }

  final case class Result(global: TrainedAutoencoder,
                          perClientLoss: Seq[Seq[Double]])

  /** Synchronous FedAvg: `rounds` rounds × `epochsPerRound` local epochs
    * (reference: rounds = EPOCHS, EPOCHS_PER_ROUND = 1, `config.yaml:1-5`).
    * All clients share the architecture and the initial weights (as the
    * reference's identical-seed clients do).
    */
  def run(model: WindowModel, clients: Seq[DataFrame], valuesCol: String,
          rounds: Int, epochsPerRound: Int = 1, lr: Double = 1e-3,
          lrDecay: Double = 0.99): Result = {
    var global = model.initWeights()
    val histories = Array.fill(clients.size)(Seq.newBuilder[Double])
    var lrRound = lr
    // Every round re-reads each client's windows (rounds × epochs passes):
    // persist the per-client frames for the duration of the loop so the
    // standardize→window lineage runs once per client, not once per round.
    // Bench note: warm steady-state at sf0.1 is ~1.5 s, but the JIT
    // warmup curve is long (measured 2.5 → 1.5 s over reps 2–8), so
    // median-of-3 bench numbers for this query carry up to ~0.4 s of
    // process-position noise on an unchanged plan.
    val cached = clients.map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      (1 to rounds).foreach { _ =>
        val fits = cached.zipWithIndex.map { case (c, ci) =>
          val t = Trainer.fitFrom(model, global, c, valuesCol,
            epochs = epochsPerRound, lr = lrRound, lrDecay = 1.0)
          histories(ci) ++= t.lossHistory
          t.weights
        }
        global = aggregate(fits)
        lrRound *= lrDecay
      }
    } finally cached.foreach(_.unpersist(blocking = false))
    Result(TrainedAutoencoder(model, global, histories.flatMap(_.result().lastOption).toSeq),
      histories.map(_.result()).toSeq)
  }
}
