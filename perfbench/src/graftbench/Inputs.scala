package graftbench

/** Prints a digest of the inputs every workload's generators make from
  * a seed, without starting Spark — the smoke check's proof that a
  * different seed gives different inputs:
  * {{{ graftbench.Inputs <seed> }}} */
object Inputs {
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val c = new CtGen(seed, Workloads.KeySpace).chunk(10000)
    val model = new Model
    c.ops.indices.foreach(i => model.apply(c.ops(i), c.keys(i), c.payloads(i), i + 1L))
    val reads = new ReadGen(seed * 31 + 7, model.liveKeys, Workloads.KeySpace, 20000).mix().take(40).toSeq
    val gg = Gg.trail(seed, 2000).map(java.util.Arrays.hashCode(_).toLong).sum
    println(f"ct=${model.hash}%016x reads=${reads.hashCode}%08x gg=$gg%016x")
  }
}
