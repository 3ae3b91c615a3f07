"""Seed-table writeback — the reference's GSheet "db" commit as a MERGE.

Reference semantics (modules/gsheet_feeder_db/gsheet_feeder_db.py:132-198,
207-214): when a URL finishes, the feeder row in the seed sheet receives a
batch of cell updates — status, archive location, date, title, text,
timestamp, hash, pdq-hash CSV, thumbnail — where every cell EXCEPT status is
written only if currently empty (``batch_if_valid`` guards on
``not self.gsheet.get_cell(...)``), and each cell value is capped at 50 000
chars (gworksheet.py:105, O6).

Spark mapping: ``MERGE INTO seed USING results ON key WHEN MATCHED THEN
UPDATE SET col = CASE WHEN target.col = '' THEN source.col ELSE target.col
END`` (``writeback_merge``). The crawl never materializes the merged table:
every written cell is a function of ``archive_results``, which each wave
already commits and checkpoints, so the seed state is merge-on-read (the
Iceberg MOR shape, like the ``images`` table). Wave 0 commits the blank
``seed_base`` once; ``read_seed_state`` folds all waves' results per key
(``fold_results``) and applies one MERGE to that base. The fold is exact:
it equals applying the single-wave MERGE wave by wave (``wave_writeback``,
kept as the reference the tests compare against).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CELL_CAP = 50_000  # gworksheet.py:105 truncation


def writeback_merge(
    seed: DataFrame,
    results: DataFrame,
    key_cols: list[str],
    fill_cols: list[str],
    overwrite_cols: list[str] = (),
    cell_cap: int = CELL_CAP,
) -> DataFrame:
    """Only-fill-empty MERGE of ``results`` into ``seed`` keyed by
    ``key_cols``.

    * ``fill_cols``: written only where the seed cell is NULL/blank
      (reference ``batch_if_valid`` guard) and the new value is non-null.
    * ``overwrite_cols``: always take the new value when one exists
      (the status cell: started → "Archive in progress" → final status,
      gsheet_feeder_db.py:115-126).
    * every written value is truncated to ``cell_cap - 1`` chars (O6).

    ``results`` must be unique per key (dedup upstream — the wave driver's
    frontier is already deduped per url_hash, and (sheet,row_idx) is unique
    by construction).
    """
    upd_cols = list(fill_cols) + list(overwrite_cols)
    r = results.select(
        *key_cols, *[F.col(c).alias(f"_new_{c}") for c in upd_cols]
    )
    out = seed.join(r, list(key_cols), "left")
    for c in upd_cols:
        new = F.substring(F.col(f"_new_{c}").cast("string"), 1, cell_cap - 1)
        cur = F.col(c)
        if c in overwrite_cols:
            merged = F.coalesce(new, cur)
        else:
            empty = cur.isNull() | (F.trim(cur) == "")
            merged = F.when(empty & new.isNotNull(), new).otherwise(cur)
        out = out.withColumn(c, merged)
    return out.drop(*[f"_new_{c}" for c in upd_cols])


STATE_COLS = ["date", "title", "hash", "pdq"]  # gsheet result cells we model
_KEY = ["sheet", "row_idx"]


def _utc_iso(ts):
    """``ts`` as ``yyyy-MM-dd'T'HH:mm:ssXXX`` rendered in UTC, whatever the
    reader's session time zone: epoch-second arithmetic, no zone rules."""
    secs = F.unix_seconds(ts)
    day = F.floor(secs / 86400)
    tod = secs - day * 86400
    return F.format_string(
        "%sT%02d:%02d:%02dZ",
        F.date_from_unix_date(day.cast("int")).cast("string"),
        (tod / 3600).cast("int"),
        (tod / 60 % 60).cast("int"),
        (tod % 60).cast("int"),
    )


def result_cells(results: DataFrame, *extra: str) -> DataFrame:
    """The cells one archive result writes (the reference's done() batch,
    gsheet_feeder_db.py:132-198; A8 pdq CSV cell: 164-171), keyed by
    (sheet, row_idx), plus any ``extra`` pass-through columns."""
    return results.select(
        *_KEY,
        *extra,
        "status",
        _utc_iso(F.col("processed_at")).alias("date"),
        "title",
        F.try_element_at(F.col("media"), F.lit(1))["hash"].alias("hash"),
        F.array_join(
            F.transform(F.col("media"), lambda m: m["phash"].cast("string")), ","
        ).alias("pdq"),
    )


def init_seed_state(seed: DataFrame) -> DataFrame:
    """Wave-0 seed base: the feeder columns plus blank result cells (a fresh
    worksheet has the header but empty archive columns)."""
    out = seed
    for c in STATE_COLS:
        out = out.withColumn(c, F.lit("").cast("string"))
    return out


def _merge_cells(seed_state: DataFrame, cells: DataFrame) -> DataFrame:
    """Status always updated; date/title/hash/pdq only fill blanks."""
    return writeback_merge(
        seed_state, cells, key_cols=_KEY, fill_cols=STATE_COLS, overwrite_cols=["status"]
    )


def wave_writeback(seed_state: DataFrame, results: DataFrame) -> DataFrame:
    """Apply one wave's archive results to the seed-state table."""
    return _merge_cells(seed_state, result_cells(results))


def fold_results(results: DataFrame) -> DataFrame:
    """One row per key whose single MERGE equals ``wave_writeback`` applied
    once per wave in wave order. A fill cell stays blank until some wave
    writes a non-blank value, and then keeps it; so the sequence leaves the
    first non-null, non-blank value, or failing that the last non-null
    (blank) one. Status leaves the last non-null value. Values are cast and
    truncated exactly as ``writeback_merge`` does before the blank test.
    min/max(struct(wave, v)) is the argmax idiom of ``dedup_in_wave``."""
    cells = result_cells(results, "wave")
    aggs = []
    for c in ["status", *STATE_COLS]:
        v = F.substring(F.col(c).cast("string"), 1, CELL_CAP - 1)
        last = F.max(F.when(v.isNotNull(), F.struct("wave", v.alias("v"))))["v"]
        if c != "status":
            written = v.isNotNull() & (F.trim(v) != "")
            first = F.min(F.when(written, F.struct("wave", v.alias("v"))))["v"]
            last = F.coalesce(first, last)
        aggs.append(last.alias(c))
    return cells.groupBy(*_KEY).agg(*aggs)


def read_seed_state(spark, io) -> DataFrame:
    """The merged seed-state table: the wave-0 ``seed_base`` with every
    committed wave of ``archive_results`` merged on read."""
    return _merge_cells(
        io.read(spark, "seed_base"), fold_results(io.read(spark, "archive_results"))
    )
