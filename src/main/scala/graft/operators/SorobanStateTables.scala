package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.{Amounts, Hashes, SacContractId, SacStorage, ScVal, StellarXdr, Strkey}
import graft.functions.GraftFunctions
import graft.model.LedgerModel.LedgerRow

/** The four Soroban STATE tables off REAL ledger-entry XDR, plus the
  * contract-events table off decoded ledger rows (P13–P17): the one
  * implementation of each, the one the export CLI runs, at the reference's
  * exact output key sets:
  *
  *   - contract_data   (`/root/reference/internal/transform/contract_data.go:49-158`)
  *   - contract_code   (`contract_code.go:12-110`)
  *   - config_settings (`config_setting.go:13-150`)
  *   - ttl             (`ttl.go:12-50`)
  *   - contract_events (`contract_events.go:20-104`)
  *
  * The input grain for the state tables is one ledger-entry CHANGE: the full
  * `LedgerEntry` XDR plus the change metadata the reference's
  * `utils.ExtractEntryFromChange` derives (change kind, deleted flag) and
  * the header context (closed_at, ledger_sequence). Decode runs in the
  * EXECUTORS — one `Dataset.map` at the deserialization boundary, map-only,
  * no shuffle — so a 100 TB backfill parallelizes per input partition
  * exactly like the datastore decode ([[graft.sources.LcmBatchFiles]]).
  */
object SorobanStateTables {

  /** One ledger-entry change: full LedgerEntry XDR + extracted metadata. */
  final case class EntryChange(
      entry_xdr: Array[Byte],
      ledger_entry_change: Int, // 0 created / 1 updated / 2 removed
      deleted: Boolean,
      closed_at: Timestamp,
      ledger_sequence: Long)

  // ---- enum String() renderings (the Go SDK names the goldens carry) -------

  private val scValTypeNames: Map[Int, String] = Map(
    0 -> "ScvBool", 1 -> "ScvVoid", 2 -> "ScvError", 3 -> "ScvU32",
    4 -> "ScvI32", 5 -> "ScvU64", 6 -> "ScvI64", 7 -> "ScvTimepoint",
    8 -> "ScvDuration", 9 -> "ScvU128", 10 -> "ScvI128", 11 -> "ScvU256",
    12 -> "ScvI256", 13 -> "ScvBytes", 14 -> "ScvString", 15 -> "ScvSymbol",
    16 -> "ScvVec", 17 -> "ScvMap", 18 -> "ScvAddress",
    19 -> "ScvContractInstance", 20 -> "ScvLedgerKeyContractInstance",
    21 -> "ScvLedgerKeyNonce")

  def scValTypeName(t: Int): String =
    "ScValType" + scValTypeNames.getOrElse(t,
      throw new IllegalArgumentException(s"unknown SCValType $t"))

  def durabilityName(d: Int): String = d match {
    case 0 => "ContractDataDurabilityTemporary"
    case 1 => "ContractDataDurabilityPersistent"
    case _ => throw new IllegalArgumentException(s"unknown durability $d")
  }

  private def b64(b: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b)

  // ---- contract_data --------------------------------------------------------

  /** `ContractDataOutput` (`schema.go:511-532`). `key_decoded`/`val_decoded`
    * ride as JSON strings (parse to VARIANT at the query layer if needed). */
  final case class ContractDataRow(
      contract_id: String,
      contract_key_type: String,
      contract_durability: String,
      asset_code: String,
      asset_issuer: String,
      asset_type: String,
      balance_holder: String,
      balance: String,
      last_modified_ledger: Long,
      ledger_entry_change: Int,
      deleted: Boolean,
      closed_at: Timestamp,
      ledger_sequence: Long,
      ledger_key_hash: String,
      key: String,
      key_decoded: String,
      `val`: String,
      val_decoded: String,
      contract_data_xdr: String,
      ledger_key_hash_base_64: String)

  /** One decoded change → Some(row), or None for the nonce keys the
    * reference discards (`contract_data.go:63-66`). `passphrase` selects
    * the network whose SAC-id preimage the asset self-check derives
    * (`--testnet`/`--futurenet`, `utils/main.go:866-895`). */
  def contractDataRow(c: EntryChange,
      passphrase: String = SacContractId.PublicPassphrase): Option[ContractDataRow] = {
    val e = StellarXdr.ledgerEntry(new StellarXdr.Reader(c.entry_xdr))
    require(e.family == "contract_data", s"not a contract_data entry: ${e.family}")
    val s = e.soroban
    if (s.keyType == 21) return None // ScvLedgerKeyNonce: discarded
    if (s.contractAddrType != 1)
      throw new StellarXdr.XdrError(
        s"contract_data entry with non-contract address arm ${s.contractAddrType}")
    val ledgerKeyXdr = StellarXdr.encodeSorobanLedgerKey(e)
    val sacAsset = SacStorage.assetFromContractData(s.keyXdr, s.valXdr,
      s.contractId, passphrase)
    val sacBalance = SacStorage.contractBalanceFromContractData(s.keyXdr, s.valXdr)
    Some(ContractDataRow(
      contract_id = Strkey.encodeContract(s.contractId),
      contract_key_type = scValTypeName(s.keyType),
      contract_durability = durabilityName(s.durability),
      asset_code = sacAsset.map(_.code).getOrElse(""),
      asset_issuer = sacAsset.map(a =>
        if (a.issuerKey.isEmpty) "" else Strkey.encodeAccountId(a.issuerKey))
        .getOrElse(""),
      asset_type = sacAsset.map(_.assetType).getOrElse(""),
      balance_holder = sacBalance.map(b => Strkey.encodeContract(b.holder))
        .getOrElse(""),
      balance = sacBalance.map(b =>
        Amounts.int128String(b.amountHi, b.amountLo)).getOrElse(""),
      last_modified_ledger = e.lastModified,
      ledger_entry_change = c.ledger_entry_change,
      deleted = c.deleted,
      closed_at = c.closed_at,
      ledger_sequence = c.ledger_sequence,
      ledger_key_hash = Hashes.sha256Hex(ledgerKeyXdr),
      key = b64(s.keyXdr),
      key_decoded = ScVal.toJson(ScVal.decode(s.keyXdr)),
      `val` = b64(s.valXdr),
      val_decoded = ScVal.toJson(ScVal.decode(s.valXdr)),
      contract_data_xdr = b64(s.bodyXdr),
      ledger_key_hash_base_64 = b64(ledgerKeyXdr)))
  }

  // Cached ExpressionEncoders (r21): every state-table query re-derived
  // these nested encoders per build (runtime reflection, tens of ms each).
  // Immutable schema metadata — see LcmBatchFiles.ledgerRowEnc.
  import org.apache.spark.sql.{Encoder, Encoders}
  private lazy val entryChangeEnc: Encoder[EntryChange] =
    Encoders.product[EntryChange]
  private lazy val famEntryChangeEnc: Encoder[(Int, EntryChange)] =
    Encoders.tuple(Encoders.scalaInt, entryChangeEnc)
  private lazy val contractDataRowEnc: Encoder[ContractDataRow] =
    Encoders.product[ContractDataRow]
  private lazy val contractCodeRowEnc: Encoder[ContractCodeRow] =
    Encoders.product[ContractCodeRow]
  private lazy val configSettingRowEnc: Encoder[ConfigSettingRow] =
    Encoders.product[ConfigSettingRow]
  private lazy val ttlRowEnc: Encoder[TtlRow] = Encoders.product[TtlRow]

  def contractData(changes: Dataset[EntryChange],
      passphrase: String = SacContractId.PublicPassphrase): DataFrame =
    changes.flatMap(contractDataRow(_, passphrase))(contractDataRowEnc).toDF()

  // ---- contract_code --------------------------------------------------------

  /** `ContractCodeOutput` (`schema.go:534-556`): the hash, ext version, the
    * ten wasm cost inputs (ext v1, zero otherwise), and the key-hash pair. */
  final case class ContractCodeRow(
      contract_code_hash: String,
      contract_code_ext_v: Int,
      last_modified_ledger: Long,
      ledger_entry_change: Int,
      deleted: Boolean,
      closed_at: Timestamp,
      ledger_sequence: Long,
      ledger_key_hash: String,
      n_instructions: Long,
      n_functions: Long,
      n_globals: Long,
      n_table_entries: Long,
      n_types: Long,
      n_data_segments: Long,
      n_elem_segments: Long,
      n_imports: Long,
      n_exports: Long,
      n_data_segment_bytes: Long,
      ledger_key_hash_base_64: String)

  def contractCodeRow(c: EntryChange): ContractCodeRow = {
    val e = StellarXdr.ledgerEntry(new StellarXdr.Reader(c.entry_xdr))
    require(e.family == "contract_code", s"not a contract_code entry: ${e.family}")
    val s = e.soroban
    val costs = if (s.costInputs.nonEmpty) s.costInputs else Seq.fill(10)(0L)
    val ledgerKeyXdr = StellarXdr.encodeSorobanLedgerKey(e)
    ContractCodeRow(
      contract_code_hash = Hashes.hex(s.codeHash),
      contract_code_ext_v = s.codeExtV,
      last_modified_ledger = e.lastModified,
      ledger_entry_change = c.ledger_entry_change,
      deleted = c.deleted,
      closed_at = c.closed_at,
      ledger_sequence = c.ledger_sequence,
      ledger_key_hash = Hashes.sha256Hex(ledgerKeyXdr),
      n_instructions = costs(0), n_functions = costs(1), n_globals = costs(2),
      n_table_entries = costs(3), n_types = costs(4), n_data_segments = costs(5),
      n_elem_segments = costs(6), n_imports = costs(7), n_exports = costs(8),
      n_data_segment_bytes = costs(9),
      ledger_key_hash_base_64 = b64(ledgerKeyXdr))
  }

  def contractCode(changes: Dataset[EntryChange]): DataFrame =
    changes.map(contractCodeRow _)(contractCodeRowEnc).toDF()

  // ---- config_settings ------------------------------------------------------

  /** One cost-param entry in the reference's string-rendered shape
    * (`serializeParams`, `operation.go:2240-2272` renders i64 terms as
    * STRINGS). */
  final case class CostParam(ExtV: String, ConstTerm: String, LinearTerm: String)

  /** `ConfigSettingOutput` (`schema.go:560-609`): the 14 union arms
    * flattened wide; absent arms keep Go zero values. */
  final case class ConfigSettingRow(
      config_setting_id: Int,
      contract_max_size_bytes: Long,
      ledger_max_instructions: Long,
      tx_max_instructions: Long,
      fee_rate_per_instructions_increment: Long,
      tx_memory_limit: Long,
      ledger_max_read_ledger_entries: Long,
      ledger_max_read_bytes: Long,
      ledger_max_write_ledger_entries: Long,
      ledger_max_write_bytes: Long,
      tx_max_read_ledger_entries: Long,
      tx_max_read_bytes: Long,
      tx_max_write_ledger_entries: Long,
      tx_max_write_bytes: Long,
      fee_read_ledger_entry: Long,
      fee_write_ledger_entry: Long,
      fee_read_1kb: Long,
      bucket_list_target_size_bytes: Long,
      write_fee_1kb_bucket_list_low: Long,
      write_fee_1kb_bucket_list_high: Long,
      bucket_list_write_fee_growth_factor: Long,
      fee_historical_1kb: Long,
      tx_max_contract_events_size_bytes: Long,
      fee_contract_events_1kb: Long,
      ledger_max_txs_size_bytes: Long,
      tx_max_size_bytes: Long,
      fee_tx_size_1kb: Long,
      contract_cost_params_cpu_insns: Seq[CostParam],
      contract_cost_params_mem_bytes: Seq[CostParam],
      contract_data_key_size_bytes: Long,
      contract_data_entry_size_bytes: Long,
      max_entry_ttl: Long,
      min_temporary_ttl: Long,
      min_persistent_ttl: Long,
      persistent_rent_rate_denominator: Long,
      temp_rent_rate_denominator: Long,
      max_entries_to_archive: Long,
      bucket_list_size_window_sample_size: Long,
      eviction_scan_size: Long,
      starting_eviction_scan_level: Long,
      ledger_max_tx_count: Long,
      bucket_list_size_window: Seq[Long],
      last_modified_ledger: Long,
      ledger_entry_change: Int,
      deleted: Boolean,
      closed_at: Timestamp,
      ledger_sequence: Long)

  private def costParams(ps: Seq[(Long, Long)]): Seq[CostParam] =
    ps.map { case (c, l) => CostParam("0", c.toString, l.toString) }

  def configSettingRow(c: EntryChange): ConfigSettingRow = {
    val e = StellarXdr.ledgerEntry(new StellarXdr.Reader(c.entry_xdr))
    require(e.family == "config_setting", s"not a config_setting entry: ${e.family}")
    val x = e.soroban.config
    ConfigSettingRow(
      config_setting_id = x.id,
      contract_max_size_bytes = x.contractMaxSizeBytes,
      ledger_max_instructions = x.ledgerMaxInstructions,
      tx_max_instructions = x.txMaxInstructions,
      fee_rate_per_instructions_increment = x.feeRatePerInstructionsIncrement,
      tx_memory_limit = x.txMemoryLimit,
      ledger_max_read_ledger_entries = x.ledgerMaxReadLedgerEntries,
      ledger_max_read_bytes = x.ledgerMaxReadBytes,
      ledger_max_write_ledger_entries = x.ledgerMaxWriteLedgerEntries,
      ledger_max_write_bytes = x.ledgerMaxWriteBytes,
      tx_max_read_ledger_entries = x.txMaxReadLedgerEntries,
      tx_max_read_bytes = x.txMaxReadBytes,
      tx_max_write_ledger_entries = x.txMaxWriteLedgerEntries,
      tx_max_write_bytes = x.txMaxWriteBytes,
      fee_read_ledger_entry = x.feeReadLedgerEntry,
      fee_write_ledger_entry = x.feeWriteLedgerEntry,
      fee_read_1kb = x.feeRead1Kb,
      bucket_list_target_size_bytes = x.bucketListTargetSizeBytes,
      write_fee_1kb_bucket_list_low = x.writeFee1KbBucketListLow,
      write_fee_1kb_bucket_list_high = x.writeFee1KbBucketListHigh,
      bucket_list_write_fee_growth_factor = x.bucketListWriteFeeGrowthFactor,
      fee_historical_1kb = x.feeHistorical1Kb,
      tx_max_contract_events_size_bytes = x.txMaxContractEventsSizeBytes,
      fee_contract_events_1kb = x.feeContractEvents1Kb,
      ledger_max_txs_size_bytes = x.ledgerMaxTxsSizeBytes,
      tx_max_size_bytes = x.txMaxSizeBytes,
      fee_tx_size_1kb = x.feeTxSize1Kb,
      contract_cost_params_cpu_insns = costParams(x.costParamsCpu),
      contract_cost_params_mem_bytes = costParams(x.costParamsMem),
      contract_data_key_size_bytes = x.contractDataKeySizeBytes,
      contract_data_entry_size_bytes = x.contractDataEntrySizeBytes,
      max_entry_ttl = x.maxEntryTtl,
      min_temporary_ttl = x.minTemporaryTtl,
      min_persistent_ttl = x.minPersistentTtl,
      persistent_rent_rate_denominator = x.persistentRentRateDenominator,
      temp_rent_rate_denominator = x.tempRentRateDenominator,
      max_entries_to_archive = x.maxEntriesToArchive,
      bucket_list_size_window_sample_size = x.bucketListSizeWindowSampleSize,
      eviction_scan_size = x.evictionScanSize,
      starting_eviction_scan_level = x.startingEvictionScanLevel,
      ledger_max_tx_count = x.ledgerMaxTxCount,
      bucket_list_size_window = x.bucketListSizeWindow,
      last_modified_ledger = e.lastModified,
      ledger_entry_change = c.ledger_entry_change,
      deleted = c.deleted,
      closed_at = c.closed_at,
      ledger_sequence = c.ledger_sequence)
  }

  def configSettings(changes: Dataset[EntryChange]): DataFrame =
    changes.map(configSettingRow _)(configSettingRowEnc).toDF()

  // ---- ttl -------------------------------------------------------------------

  /** `TtlOutput` (`schema.go:611-620`). */
  final case class TtlRow(
      key_hash: String,
      live_until_ledger_seq: Long,
      last_modified_ledger: Long,
      ledger_entry_change: Int,
      deleted: Boolean,
      closed_at: Timestamp,
      ledger_sequence: Long)

  def ttlRow(c: EntryChange): TtlRow = {
    val e = StellarXdr.ledgerEntry(new StellarXdr.Reader(c.entry_xdr))
    require(e.family == "ttl", s"not a ttl entry: ${e.family}")
    TtlRow(
      key_hash = Hashes.hex(e.soroban.ttlKeyHash),
      live_until_ledger_seq = e.soroban.liveUntil,
      last_modified_ledger = e.lastModified,
      ledger_entry_change = c.ledger_entry_change,
      deleted = c.deleted,
      closed_at = c.closed_at,
      ledger_sequence = c.ledger_sequence)
  }

  def ttl(changes: Dataset[EntryChange]): DataFrame =
    changes.map(ttlRow _)(ttlRowEnc).toDF()

  // ---- entry changes off decoded ledger rows --------------------------------

  /** The state-table input grain from decoded LedgerRows: each tx's
    * soroban-family entry changes (`TxModel.state_changes`) joined with
    * the ledger context. `family` pre-dispatches on the entry-type word so
    * each table transform filters without re-decoding. */
  def entryChangesFromLedgers(
      ledgers: Dataset[LedgerRow]): Dataset[(Int, EntryChange)] = {
    ledgers.flatMap { l =>
      l.transactions.flatMap(_.state_changes).map { c =>
        // LedgerEntry = lastModified word ‖ entry-type word ‖ …
        val family = ((c.entry_xdr(4) & 0xff) << 24) |
          ((c.entry_xdr(5) & 0xff) << 16) |
          ((c.entry_xdr(6) & 0xff) << 8) | (c.entry_xdr(7) & 0xff)
        (family, EntryChange(c.entry_xdr, c.change_kind, c.deleted,
          l.closed_at, l.sequence))
      }
    }(famEntryChangeEnc)
  }

  private def familySlice(ledgers: Dataset[LedgerRow],
      family: Int): Dataset[EntryChange] =
    entryChangesFromLedgers(ledgers).filter(_._1 == family)
      .map(_._2)(entryChangeEnc)

  def contractDataFromLedgers(ledgers: Dataset[LedgerRow],
      passphrase: String = SacContractId.PublicPassphrase): DataFrame =
    contractData(familySlice(ledgers, 6), passphrase)
  def contractCodeFromLedgers(ledgers: Dataset[LedgerRow]): DataFrame =
    contractCode(familySlice(ledgers, 7))
  def configSettingsFromLedgers(ledgers: Dataset[LedgerRow]): DataFrame =
    configSettings(familySlice(ledgers, 8))
  def ttlFromLedgers(ledgers: Dataset[LedgerRow]): DataFrame =
    ttl(familySlice(ledgers, 9))

  // ---- contract_events (ledger grain, fully declarative) --------------------

  private val eventTypeNames = typedLit(Map(
    0 -> "ContractEventTypeSystem",
    1 -> "ContractEventTypeContract",
    2 -> "ContractEventTypeDiagnostic"))

  /** `ContractEventOutput` off decoded LedgerRows: the decode already
    * happened at the source boundary (tx meta → `TxModel.diag_events`), so
    * this is a pure column pipeline — two explodes and codegen'd renderers,
    * no per-row lambda. */
  def contractEventsFromLedgers(ledgers: Dataset[LedgerRow]): DataFrame = {
    ledgers.toDF()
      .select(col("sequence").as("ledger_sequence"), col("closed_at"),
        posexplode(col("transactions")).as(Seq("tx_idx", "tx")))
      .select(col("ledger_sequence"), col("closed_at"),
        col("tx.hash_hex").as("transaction_hash"),
        GraftFunctions.toid(col("ledger_sequence"),
          col("tx_idx") + 1, lit(0)).as("transaction_id"),
        col("tx.successful").as("successful"),
        explode(col("tx.diag_events")).as("ev"))
      .select(
        col("transaction_hash"),
        col("transaction_id"),
        col("successful"),
        col("ledger_sequence"),
        col("closed_at"),
        col("ev.in_successful_call").as("in_successful_contract_call"),
        when(col("ev.contract_id").isNotNull,
            GraftFunctions.strkeyContract(col("ev.contract_id")))
          .otherwise(lit("")).as("contract_id"),
        col("ev.event_type").as("type"),
        element_at(eventTypeNames, col("ev.event_type")).as("type_string"),
        transform(col("ev.topics_xdr"),
          t => GraftFunctions.base64NoWrap(t)).as("topics"),
        transform(col("ev.topics_xdr"),
          t => GraftFunctions.scvalJson(t)).as("topics_decoded"),
        GraftFunctions.base64NoWrap(col("ev.data_xdr")).as("data"),
        GraftFunctions.scvalJson(col("ev.data_xdr")).as("data_decoded"),
        GraftFunctions.base64NoWrap(col("ev.diag_xdr"))
          .as("contract_event_xdr"))
  }
}
