package graft.io

/** Output-file sizing for persisted-index artifacts (optimization
  * guide §6: small files hurt twice — listing/planning on the driver
  * and per-file open overhead on every subsequent scan).
  *
  * The write-side problem this solves: a Spark write emits one part
  * file per input partition, and the local scan splitter
  * (parallelism-first packing, `spark.sql.files.minPartitionNum`
  * defaulting to the core count) hands even a KB-sized delta ~32
  * partitions — so every delta append used to land ~32 tiny part
  * files PER ARTIFACT, compounding per append (r16 measured the
  * sf0.1 staged text index at 66 files / 3.9 MB, the append-staged
  * one at 131 files / 3.6 MB, and every probe pays the listing + the
  * per-file footer opens).
  *
  * Policy: derived/append writes whose bytes are KNOWN (the source
  * dir was just written — a distributed append reads back its scratch
  * snapshot, derivations read the just-published artifact) coalesce to
  * ceil(bytes / target) output partitions, floor 1. An append whose
  * rows are already on the driver needs no sizing: it lands one part
  * file per artifact ([[IndexStore.appendIndexRows]]). Build-time writes
  * whose input is a compute-heavy scan (minhash/decode kernels) keep
  * their natural parallelism — a coalesce there would serialize the
  * kernel work, the r11 coalesce(1)-sink lesson.
  *
  * `target` is scale-independent (128 MB — the parquet sweet spot the
  * guide's §6 gives as 128 MB–1 GB); override with
  * SPARK_GRAFT_TARGET_FILE_BYTES for deployments that want the 1 GB
  * end. At testdata scale every delta resolves to 1 file; at 100 TB a
  * 10 GB delta resolves to ~80 × 128 MB files — same rule, no
  * local-mode constant.
  */
object FileSizing {

  val TargetFileBytes: Long =
    sys.env.get("SPARK_GRAFT_TARGET_FILE_BYTES").map(_.toLong)
      .getOrElse(128L << 20)

  /** Partition count that packs `bytes` into ~target-sized files. */
  def partsFor(bytes: Long): Int =
    math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes)
      .min(Int.MaxValue).toInt

  /** Partition count for a rewrite sized by the artifact dir `dir`
    * (one driver metadata RPC for its total bytes). */
  def partsOf(dir: String): Int = {
    val (fs, p) = IndexStore.hadoopFs(dir)
    partsFor(fs.getContentSummary(p).getLength)
  }
}
