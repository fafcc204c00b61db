package graft.codec

/** Total-order ID: an int64 packing `(ledger:32 ‖ txOrder:20 ‖ opIndex:12)`.
  *
  * The global sort/join key shared by every history table. Semantics follow the
  * reference's TOID format (see `/root/reference/internal/toid/main.go:60-84,139-157`):
  * ledger sequence in the top 32 bits, 1-based transaction order in the next 20,
  * 1-based operation index in the low 12. Synthetic offer IDs set bit 62
  * (`/root/reference/internal/toid/synt_offer_id.go:28-34`).
  *
  * In DataFrame plans prefer the column-expression forms in
  * [[graft.functions.GraftFunctions]] (pure bit ops → whole-stage codegen);
  * these scalar versions exist for typed code and property tests.
  */
object Toid {
  /** The reference packs an int32 ledger (`toid/main.go` New takes int32), so
    * valid ledgers are < 2^31 — which also keeps the packed TOID positive and
    * makes signed-long ordering isomorphic to (ledger, tx, op) ordering.
    * (Above 2^30 the synthetic-offer bit 62 would collide with ledger bits —
    * a latent property shared with the reference; ~170 years of ledgers.) */
  val MaxLedger: Long = Int.MaxValue
  val LedgerMask: Long = (1L << 32) - 1
  val TransactionMask: Long = (1L << 20) - 1
  val OperationMask: Long = (1L << 12) - 1
  val LedgerShift: Int = 32
  val TransactionShift: Int = 12

  /** Max valid values: 2^20-1 transactions per ledger, 2^12-1 ops per tx. */
  val MaxTxOrder: Long = TransactionMask
  val MaxOpIndex: Long = OperationMask

  def pack(ledgerSeq: Long, txOrder: Long, opIndex: Long): Long = {
    require(ledgerSeq >= 0 && ledgerSeq <= MaxLedger, s"ledger out of range: $ledgerSeq")
    require(txOrder >= 0 && txOrder <= TransactionMask, s"txOrder out of range: $txOrder")
    require(opIndex >= 0 && opIndex <= OperationMask, s"opIndex out of range: $opIndex")
    (ledgerSeq << LedgerShift) | (txOrder << TransactionShift) | opIndex
  }

  def transactionId(ledgerSeq: Long, txOrder: Long): Long = pack(ledgerSeq, txOrder, 0)
  def operationId(ledgerSeq: Long, txOrder: Long, opIndex: Long): Long =
    pack(ledgerSeq, txOrder, opIndex)

  def ledgerOf(toid: Long): Long = (toid >>> LedgerShift) & LedgerMask
  def txOrderOf(toid: Long): Long = (toid >>> TransactionShift) & TransactionMask
  def opIndexOf(toid: Long): Long = toid & OperationMask

  def unpack(toid: Long): (Long, Long, Long) =
    (ledgerOf(toid), txOrderOf(toid), opIndexOf(toid))

  /** Synthetic offer id, tagging ids minted for trades whose buying side
    * never had a real on-chain offer id. `opIndex0` is the 0-BASED op index:
    * the reference mints `EncodeOfferId(operationID+1, TOIDType)` where
    * `operationID = toid(seq, tx, opIndex0)` (`input/trades.go:69`,
    * `transform/trade.go:119`), so the result equals the emitted (1-based)
    * history operation id with bit 62 set:
    * `operationId(seq, tx, opIndex0+1) | bit62`. */
  val SyntheticOfferBit: Long = 1L << 62
  def syntheticOfferId(ledgerSeq: Long, txOrder: Long, opIndex0: Long): Long =
    (pack(ledgerSeq, txOrder, opIndex0) + 1) | SyntheticOfferBit
  def isSynthetic(offerId: Long): Boolean = (offerId & SyntheticOfferBit) != 0
}
