package graft.kernel

/** Per-thread scratch-buffer pool for the inference hot path.
  *
  * The fused NLP stage runs millions of small batches; allocating fresh
  * float tensors per batch makes the engine allocation-bandwidth-bound at
  * 32 threads (the measured single-box scaling limiter). One Workspace is
  * created per partition (mapPartitions) and every kernel writes into a
  * slot-addressed growable buffer instead of `new Array`.
  *
  * Discipline: slot ids are global constants ([[WS]]); a slot's content is
  * valid only until the next kernel call that uses the same slot. Buffers
  * may be LONGER than the logical size — kernels always take explicit
  * lengths and never rely on `.length`.
  */
final class Workspace {
  private val fbufs = new Array[Array[Float]](WS.F_SLOTS)
  private val ibufs = new Array[Array[Int]](WS.I_SLOTS)
  private val bbufs = new Array[Array[Boolean]](WS.B_SLOTS)

  def f(slot: Int, n: Int): Array[Float] = {
    var a = fbufs(slot)
    if (a == null || a.length < n) { a = new Array[Float](n + (n >> 1) + 64); fbufs(slot) = a }
    a
  }
  def i(slot: Int, n: Int): Array[Int] = {
    var a = ibufs(slot)
    if (a == null || a.length < n) { a = new Array[Int](n + (n >> 1) + 64); ibufs(slot) = a }
    a
  }
  def b(slot: Int, n: Int): Array[Boolean] = {
    var a = bbufs(slot)
    if (a == null || a.length < n) { a = new Array[Boolean](n + (n >> 1) + 64); bbufs(slot) = a }
    a
  }
}

/** Slot registry. Lifetimes are documented per slot; two slots may never be
  * live at the same time unless listed as disjoint here.
  */
object WS {
  // float slots
  val EMB = 0        // [B,S,E] shared word+shape embedding (live across all 3 trunks)
  val XT = 1         // [B,E,S] transposed emb (live across all 3 trunks)
  val ENC_A = 2      // CNN layer ping ([B,C,S]; dense trunk: padded [B,S+2H,C])
  val ENC_B = 3      // CNN layer pong (same layouts as ENC_A)
  val ENC_OUT = 4    // [B,S,C] encoder output (live until the model's heads consume it)
  val NER_OUT = 5    // NER emissions (live until CRF decode)
  val MORPH_OUT = 6  // morph logits (live until assembly — syntax must not touch)
  val SH_ROOT = 7    // syntax withRoot
  val SH_H = 8       // FF head out (head stage, then reused by rel stage)
  val SH_T = 9       // FF tail out
  val SH_HK = 10     // biaffine h×kernel product
  val SH_HB = 11     // per-batch h block
  val HEAD_SC = 12   // arc scores [B,S,S+1]
  val GATH = 13      // gathered head states
  val REL_SC = 14    // rel scores [B,S,R]
  val CRF_SCORE = 15 // viterbi running scores [B,T]
  val CRF_CAND = 16  // viterbi candidate scores [T]
  val CRF_NS = 17    // viterbi new scores [T]
  val F_SLOTS = 18

  // int slots
  val WORD_IDS = 0
  val SHAPE_IDS = 1
  val CRF_HIST = 2   // [(S-1)*B*T] backpointers
  val HEAD_IDS = 3
  val REL_IDS = 4
  val CONV_ROWS = 5     // dense trunk: real-token rows in the padded layout
  val CONV_OUT_ROWS = 6 // dense trunk: the same rows in [B,S]
  val I_SLOTS = 7

  // boolean slots
  val PAD_MASK = 0
  val VALID = 1
  val B_SLOTS = 2
}
