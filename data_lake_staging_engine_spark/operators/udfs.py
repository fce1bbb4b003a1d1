"""§2.F UDF / UDAF / UDTF surface + multimodal decode plumbing.

Demonstrates every Python-extension point Spark offers, in increasing
efficiency order: row-at-a-time UDF (f01, the slow path), Arrow-
optimized UDF (f07), vectorized pandas UDF (f02), grouped-agg pandas
UDF (f03), grouped-map applyInPandas (f04), partition-wise mapInPandas
(f05), and a table function UDTF (f06).

Determinism: Python float math is the same IEEE-754 the JVM and DuckDB
use, so per-row ops are bit-stable; aggregating UDFs follow the same
rules as the JVM side (integer-cents accumulation / post-round with the
duck_round formula — see functions.determinism).

Scale: the pandas variants move data over Arrow in columnar batches
(10-100x over pickled rows); at 100 TB only f01-style UDFs are banned
from hot paths — everything else here is the sanctioned escape hatch
pattern for logic Catalyst can't express.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from data_lake_staging_engine_spark.functions.determinism import (
    make_cents,
    make_py_duck_round,
)
from data_lake_staging_engine_spark.registry import query
from data_lake_staging_engine_spark.sources import load, register_views


_BAND_ORACLE = """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 250000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS band
    FROM orders
"""


# Executor-shipped functions are defined INSIDE each query function:
# cloudpickle serializes module-level functions by reference, so a
# closure over one would require this package on every executor's
# PYTHONPATH — which a driver that merely sys.path-hacks its own
# process does not provide (verified failure mode: ModuleNotFoundError
# from the Python worker). Function-scoped defs pickle by value.


def _make_band():
    def band(p: float) -> str:
        return "high" if p > 250000 else ("mid" if p > 100000 else "low")

    return band


@query("f01_udf_python", oracle=_BAND_ORACLE)
def f01_udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (pickled rows — the slow path, kept as
    the API-compatibility baseline; see f07 for the Arrow twin)."""
    band = F.udf(_make_band(), StringType())
    o = load(spark, sf_dir, "orders")
    return o.select("o_orderkey", band("o_totalprice").alias("band"))


@query("f07_arrow_udf", oracle=_BAND_ORACLE)
def f07_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same logic as f01 through the Arrow-optimized UDF path
    (useArrow=True): columnar transfer, no per-row pickling."""
    band = F.udf(_make_band(), StringType(), useArrow=True)
    o = load(spark, sf_dir, "orders")
    return o.select("o_orderkey", band("o_totalprice").alias("band"))


@query(
    "f02_pandas_udf_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 2) AS disc_price
    FROM lineitem
    """,
)
def f02_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF: whole Arrow batches in, numpy math,
    batches out. Per-element IEEE ops are identical to the JVM's, and the
    duck-rounding happens inside the UDF (numpy-vectorized)."""
    import pandas as pd

    # note: `from __future__ import annotations` stringifies hints, which
    # pandas_udf can't introspect — set real annotations explicitly.
    def _disc_price(ep, dc):
        import numpy as np

        x = ep.to_numpy() * (1.0 - dc.to_numpy())
        # exact std::round mirror (see duck_round): split the integer
        # part BEFORE comparing the fraction — floor(y + 0.5) rounds up
        # one ulp below a half-integer
        y = np.abs(x) * 100.0
        t = np.floor(y)
        # copysign, not sign-multiply: the sign of ZERO must survive
        return pd.Series(np.copysign((t + (y - t >= 0.5)) / 100.0, x))

    _disc_price.__annotations__ = {"ep": pd.Series, "dc": pd.Series, "return": pd.Series}
    disc_price = F.pandas_udf(DoubleType())(_disc_price)

    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        disc_price("l_extendedprice", "l_discount").alias("disc_price"),
    )


@query(
    "f03_pandas_udf_grouped_agg",
    oracle="""
    WITH ranked AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE value IS NOT NULL)
    SELECT t.event_type,
           ROUND(CAST(SUM(CAST(r.value AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(r.value), 4) AS trimmed_mean
    FROM (SELECT DISTINCT event_type FROM events) t
    LEFT JOIN ranked r
      ON r.event_type = t.event_type
     AND r.rn > r.n // 10 AND r.rn <= r.n - r.n // 10
    GROUP BY t.event_type
    """,
)
def f03_pandas_udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF: 10%-trimmed mean of value per
    event_type. Exactness: the trimmed slice is summed in integer cents
    as the oracle's decimal cast gives them — no float accumulation
    anywhere.

    NULL handling (round-9 adversarial audit): the trim ranks and sums
    NON-NULL values only — SQL aggregate semantics — instead of
    crashing on int(NaN); an all-NULL group emits a NULL mean (the
    oracle's LEFT JOIN from the distinct-type spine yields the same)."""
    import pandas as pd

    cents = make_cents()
    py_round = make_py_duck_round()

    def _trimmed_mean(v):
        vals = v.dropna().sort_values().to_numpy()
        if len(vals) == 0:
            return None
        k = len(vals) // 10
        mid = vals[k : len(vals) - k]
        total = sum(cents(x) for x in mid)
        return py_round((total / 100.0) / len(mid), 4)

    _trimmed_mean.__annotations__ = {"v": pd.Series, "return": float}
    trimmed_mean = F.pandas_udf(DoubleType())(_trimmed_mean)

    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        trimmed_mean("value").alias("trimmed_mean")
    )


@query(
    "f04_apply_in_pandas",
    oracle="""
    SELECT event_id, event_type,
           ROUND((value - AVG(value) OVER w) / stddev_samp(value) OVER w, 3) AS z
    FROM events
    WINDOW w AS (PARTITION BY event_type)
    """,
)
def f04_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map normalize: z-score of value within each event_type
    (the canonical applyInPandas example). pandas mean/std and the SQL
    window agg differ in ulps (different summation orders), so both
    sides round to 3 decimals."""
    import pandas as pd

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("z", DoubleType()),
        ]
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        v = pdf["value"].to_numpy()
        # SQL AVG / STDDEV_SAMP ignore NULLs: compute the moments over
        # the non-null values only (round-9 adversarial audit — a NaN
        # in the column otherwise poisons every row's z, where the
        # oracle NULLs only the NULL rows).
        mask = ~np.isnan(v)
        nn = v[mask]
        # degenerate groups (round-9 sweep): n=1 would ZeroDivisionError
        # here and a constant group would divide by sd=0 below; the SQL
        # oracle emits NULL in both (stddev_samp NULL at n=1; x/0 NULL
        # in DuckDB) — mirror that instead of crashing the task.
        den = len(nn) - 1
        if den > 0:
            m = float(np.sum(nn)) / len(nn)
            sd = math.sqrt(float(np.sum((nn - m) ** 2)) / den)
        else:
            sd = 0.0
        if sd == 0.0:
            return pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "event_type": pdf["event_type"],
                    # object dtype so Arrow emits real NULLs, not NaN
                    "z": pd.Series([None] * len(v), dtype=object),
                }
            )
        z = (v - m) / sd
        zr = np.floor(np.abs(z) * 1000.0 + 0.5) / 1000.0 * np.sign(z)
        # NULL-value rows keep a NULL z (not NaN — the H-tier NaN ban)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "z": pd.Series(zr, dtype=object, index=pdf.index).where(
                    pd.Series(mask, index=pdf.index), None
                ),
            }
        )

    # Prune to the three columns zscore reads BEFORE the pandas
    # boundary: applyInPandas converts EVERY input column to pandas and
    # its deserializer casts timestamps to Arrow timestamp[ns], so an
    # out-of-ns-range ts (year 1500/9999 — the round-9 time-hostile
    # corpus) crashes the worker on a column the UDF never touches.
    # Pruning is also simply the right 100 TB shape (same class as
    # e06's stateful fold; f05 already prunes).
    e = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return e.groupBy("event_type").applyInPandas(zscore, schema)


@query(
    "f05_map_in_pandas",
    oracle="""
    SELECT event_id, user_id, ROUND(value * 2, 2) AS doubled
    FROM events WHERE value > 400.0
    """,
)
def f05_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise mapInPandas: batch filter + derive — the shape of
    a custom row-level enrichment stage (each Arrow batch processed as
    one pandas frame; x2 is IEEE-exact so rounding is a no-op)."""
    import pandas as pd

    def enrich(batches):
        for pdf in batches:
            keep = pdf[pdf["value"] > 400.0]
            yield pd.DataFrame(
                {
                    "event_id": keep["event_id"],
                    "user_id": keep["user_id"],
                    "doubled": keep["value"] * 2.0,
                }
            )

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return e.mapInPandas(enrich, "event_id bigint, user_id bigint, doubled double")


@query(
    "f06_udtf",
    oracle="""
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS token,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
    FROM documents
    """,
)
def f06_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): explode a document into (token, pos) rows
    via a lateral join — the tokenizer as a table function."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, pos bigint")
    class Tokenize:
        def eval(self, text: str):
            if text is None:
                # NULL text tokenizes to nothing: the lateral join drops
                # the row, exactly as the oracle's unnest over a NULL
                # list yields zero rows (round-9 adversarial audit).
                return
            for pos, token in enumerate(text.split(" ")):
                yield token, pos

    spark.udtf.register("dlse_tokenize", Tokenize)
    register_views(spark, sf_dir, "documents")
    return spark.sql(
        """
        SELECT d.doc_id, t.token, t.pos
        FROM documents d, LATERAL dlse_tokenize(d.text) t
        """
    )


# --------------------------------------------------------------------------
# Multimodal decode plumbing (BASELINE.json mandate; g09's runtime half)
# --------------------------------------------------------------------------

MULTIMODAL_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("payload_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
    ]
)


def make_wav_builder():
    """Build the ONE definition of the synthetic 16-bit PCM WAV
    container (canonical 44-byte header; channel/rate/sample-count and
    the amplitude (doc_id*31 + i*17) % 2048 - 1024 are pure functions
    of doc_id). f08's encoder and f09's frame source both consume this
    factory so the container layout and formulas cannot drift apart —
    their oracles recompute the same arithmetic.

    Factory shape (not a module-level helper) because the returned
    closure is shipped to executors pickle-by-value; a module-level
    function would pickle by reference and require the package on the
    worker PYTHONPATH (the vanilla-driver trap)."""
    import struct

    def wav_bytes(doc_id: int) -> bytes:
        ch = doc_id % 2 + 1
        rate = 8000 + (doc_id % 8) * 1000
        n = doc_id % 32 + 1
        block = ch * 2
        data = b"".join(
            struct.pack("<h", (doc_id * 31 + i * 17) % 2048 - 1024) * ch
            for i in range(n)
        )
        return (
            b"RIFF"
            + struct.pack("<I", 36 + len(data))
            + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, ch, rate, rate * block, block, 16)
            + b"data"
            + struct.pack("<I", len(data))
            + data
        )

    return wav_bytes


def make_wav_parser():
    """The matching single definition of the RIFF/WAVE header parse
    (magic validation + fmt/data chunk fields at the canonical offsets)
    consumed by f08's decoder and f09's frame sampler. Same factory
    rationale as make_wav_builder."""
    import struct

    def parse_wav(payload: bytes) -> dict:
        if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE payload")
        ch, rate = struct.unpack_from("<HI", payload, 22)
        block = struct.unpack_from("<H", payload, 32)[0]
        bits = struct.unpack_from("<H", payload, 34)[0]
        data_size = struct.unpack_from("<I", payload, 40)[0]
        return {
            "channels": ch,
            "sample_rate": rate,
            "bits": bits,
            "block": block,
            "n_samples": data_size // block,
            "data_offset": 44,
        }

    return parse_wav


def make_encoder():
    """Build the deterministic multimodal payload synthesizer (shipped
    to executors, pickle-by-value; see _make_band note).

    Fixture twin of an object-store read: each document becomes a REAL
    binary blob — a valid 24-bit BMP (doc_id % 3 == 0), a valid PCM
    WAV (== 1, via make_wav_builder), or raw UTF-8 text (== 2) — whose
    header fields are pure functions of doc_id, so an arithmetic oracle
    can verify the full encode->Arrow->decode round trip value-exactly.
    No av libs in this environment, so blob CONTENT is synthetic, but
    the container formats (and the decoder parsing them) are the real
    thing."""
    import struct

    wav_bytes = make_wav_builder()

    def encode_payload(doc_id: int, text: str) -> tuple[str, bytes]:
        m = doc_id % 3
        if m == 0:  # 24bpp bottom-up BMP, BITMAPINFOHEADER
            w, h = doc_id % 61 + 1, doc_id % 47 + 1
            row = w * 3
            pad = (4 - row % 4) % 4
            data_size = (row + pad) * h
            header = b"BM" + struct.pack("<IHHI", 54 + data_size, 0, 0, 54)
            dib = struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0
            )
            px = bytearray()
            for y in range(h):
                for x in range(w):
                    v = (doc_id + 7 * x + 13 * y) & 0xFF
                    px += bytes((v, v ^ 0x55, v ^ 0xAA))
                px += b"\x00" * pad
            return "image", header + dib + bytes(px)
        if m == 1:
            return "audio", wav_bytes(doc_id)
        # NULL text => NULL payload (the oracle's strlen(NULL) is NULL);
        # image/audio payloads are doc_id-synthesized and unaffected.
        return "text", None if text is None else text.encode("utf-8")

    return encode_payload


def make_decoder():
    """Build the payload decoder shipped to executors (pickle-by-value).

    REAL pure-stdlib header parsing (VERDICT r05 #5, de-stubbed): BMP
    dimensions from the BITMAPINFOHEADER, WAV channel/rate/sample
    counts via make_wav_parser — `struct.unpack` against the actual
    bytes, with magic-number validation that raises on a malformed
    container. Pixel/sample DECODING (PIL/librosa territory) still
    doesn't exist in this environment; swapping this factory's body for
    a full decoder keeps every signature intact."""
    import struct

    parse_wav = make_wav_parser()

    def decode_payload(payload: bytes, modality: str) -> dict:
        none = {
            "width": None,
            "height": None,
            "channels": None,
            "sample_rate": None,
            "n_samples": None,
        }
        if modality == "image":
            if payload[:2] != b"BM":
                raise ValueError("not a BMP payload")
            w, h = struct.unpack_from("<ii", payload, 18)
            return {**none, "width": w, "height": abs(h)}
        if modality == "audio":
            meta = parse_wav(payload)
            return {
                **none,
                "channels": meta["channels"],
                "sample_rate": meta["sample_rate"],
                "n_samples": meta["n_samples"],
            }
        if modality in ("text", "video"):
            return none
        raise NotImplementedError(f"unknown modality: {modality}")

    return decode_payload


def make_safe_decoder():
    """Quarantining twin of ``make_decoder`` (round-13 binary-hostile
    axis): returns ``(features, error)`` instead of raising, so ONE
    corrupt blob in a 100 TB landing quarantines as an error row
    instead of killing the whole decode stage — the a14 bad-records
    philosophy applied at the binary boundary.  ``features`` is the
    all-None dict when ``error`` is set; short/truncated payloads are
    caught the same way as bad magic (``struct.unpack_from`` raises on
    a header shorter than its format).  Strict ``make_decoder`` stays
    the fixture-parity decoder (a malformed blob in the SYNTHESIZED
    fixture is a bug and must crash loudly); this is the one to ship
    against real object stores."""
    decode = make_decoder()
    none = {
        "width": None,
        "height": None,
        "channels": None,
        "sample_rate": None,
        "n_samples": None,
    }

    def decode_or_quarantine(
        payload: bytes | None, modality: str
    ) -> tuple[dict, str | None]:
        if payload is None and modality in ("image", "audio"):
            return dict(none), "null payload"
        try:
            return decode(payload, modality), None
        except NotImplementedError as exc:
            return dict(none), str(exc)
        except Exception as exc:  # malformed container, truncated bytes
            return dict(none), f"{type(exc).__name__}: {exc}"

    return decode_or_quarantine


def quarantine_observation() -> list:
    """The observe() aggregates for a quarantining decode stage
    (VERDICT r13 #5): total rows and quarantined rows, computed on the
    frame the sink already scans — a corrupt landing surfaces as a
    RATE in the pipeline's metrics log instead of a silently smaller
    corpus.  Attach with ``df.observe(name_or_Observation, *these)``;
    ``StagingPipeline(observe_metrics={"quarantine":
    quarantine_observation()})`` records them per micro-batch in
    ``batch_observations``.  The sum coalesces to 0 so an empty batch
    reads as (0, 0), not (0, NULL)."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum("is_quarantined"), F.lit(0)).cast("long").alias(
            "n_quarantined"
        ),
    ]


@query(
    "f08_multimodal_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id, doc_id % 3 AS m, strlen(text) AS tb,
             doc_id % 61 + 1 AS w, doc_id % 47 + 1 AS h,
             doc_id % 2 + 1 AS ch, 8000 + (doc_id % 8) * 1000 AS rate,
             doc_id % 32 + 1 AS ns
      FROM documents
    )
    SELECT doc_id,
           CASE m WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'text' END AS modality,
           CAST(CASE m WHEN 0 THEN 54 + (w*3 + (4 - (w*3) % 4) % 4) * h
                       WHEN 1 THEN 44 + ns * ch * 2
                       ELSE tb END AS BIGINT) AS payload_bytes,
           CAST(CASE m WHEN 0 THEN w END AS BIGINT) AS width,
           CAST(CASE m WHEN 0 THEN h END AS BIGINT) AS height,
           CAST(CASE m WHEN 1 THEN ch END AS BIGINT) AS channels,
           CAST(CASE m WHEN 1 THEN rate END AS BIGINT) AS sample_rate,
           CAST(CASE m WHEN 1 THEN ns END AS BIGINT) AS n_samples
    FROM m
    """,
)
def f08_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature-extraction over binary payload columns: the
    decode stage of a multimodal training pipeline, now hash-tier.

    Two Arrow-batched stages: (1) ENCODE each document into a real
    container blob (valid BMP / PCM WAV / UTF-8 bytes — make_encoder),
    (2) DECODE the binary column by parsing the container headers with
    pure stdlib `struct` (make_decoder). The payload genuinely crosses
    the JVM<->Python Arrow boundary between the stages as a binary
    column, and the oracle recomputes every decoded field from the
    doc_id formulas — so the round trip (not a copied-through value) is
    what hash-matches. Both stages are narrow (no shuffle); partitioning
    follows the scan, which is the right unit for whole-file codecs at
    100 TB where stage (1) is the object-store read."""
    import pandas as pd

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    encode_payload = make_encoder()
    decode_payload = make_decoder()

    def encode(batches):
        for pdf in batches:
            enc = [
                encode_payload(i, t) for i, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": [m for m, _ in enc],
                    "payload": [p for _, p in enc],
                }
            )

    encoded = d.mapInPandas(
        encode, "doc_id bigint, modality string, payload binary"
    )

    def extract(batches):
        for pdf in batches:
            feats = [
                decode_payload(p, m)
                for p, m in zip(pdf["payload"], pdf["modality"])
            ]
            out = {
                "doc_id": pdf["doc_id"],
                "modality": pdf["modality"],
                # NULL payload (NULL-text document) => NULL size, not a
                # len(None) crash (round-9 adversarial audit)
                "payload_bytes": pd.array(
                    [None if p is None else len(p) for p in pdf["payload"]],
                    dtype="Int64",
                ),
            }
            for field in (
                "width", "height", "channels", "sample_rate", "n_samples"
            ):
                out[field] = pd.array(
                    [f[field] for f in feats], dtype="Int64"
                )
            yield pd.DataFrame(out)

    return encoded.mapInPandas(extract, MULTIMODAL_FEATURE_SCHEMA)


@query(
    "f08b_multimodal_quarantine",
    oracle="""
    WITH m AS (
      SELECT doc_id, doc_id % 3 AS m, strlen(text) AS tb,
             doc_id % 61 + 1 AS w, doc_id % 47 + 1 AS h,
             doc_id % 2 + 1 AS ch, 8000 + (doc_id % 8) * 1000 AS rate,
             doc_id % 32 + 1 AS ns,
             CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS corrupt
      FROM documents
    )
    SELECT doc_id,
           CASE m WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'text' END AS modality,
           CAST(CASE m WHEN 0 THEN 54 + (w*3 + (4 - (w*3) % 4) % 4) * h
                       WHEN 1 THEN 44 + ns * ch * 2
                       ELSE tb END AS BIGINT) AS payload_bytes,
           CAST(CASE WHEN m = 0 AND corrupt = 0 THEN w END AS BIGINT)
             AS width,
           CAST(CASE WHEN m = 0 AND corrupt = 0 THEN h END AS BIGINT)
             AS height,
           CAST(CASE WHEN m = 1 AND corrupt = 0 THEN ch END AS BIGINT)
             AS channels,
           CAST(CASE WHEN m = 1 AND corrupt = 0 THEN rate END AS BIGINT)
             AS sample_rate,
           CAST(CASE WHEN m = 1 AND corrupt = 0 THEN ns END AS BIGINT)
             AS n_samples,
           CAST(CASE WHEN corrupt = 1 AND m < 2 THEN 1 ELSE 0 END
                AS BIGINT) AS is_quarantined
    FROM m
    """,
)
def f08b_multimodal_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f08's decode stage against a DIRTY landing: a deterministic
    subset of container payloads (doc_id % 7 == 0) has its magic bytes
    corrupted in flight, and the decode runs through
    ``make_safe_decoder`` — malformed blobs become quarantine rows
    (features NULL, is_quarantined = 1) instead of killing the stage.
    Productizes the round-13 binary-hostile posture as a registered
    operator: the strict decoder (f08) is the fixture-parity twin, this
    is the shape to ship against a real object store where one corrupt
    blob must not fail a 100 TB decode.

    Same two narrow Arrow-batched stages as f08 (no shuffle, scan
    partitioning); the oracle recomputes every field — including WHICH
    rows quarantine — from the doc_id formulas, so the corrupt->catch->
    NULL-features round trip is what hash-matches.  Text payloads are
    corrupted too but carry no container magic, so they pass through
    undamaged (opaque bytes) — quarantine applies to containers only."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    decoded = make_quarantine_stage()(d)
    # Quarantine-rate observability (VERDICT r13 #5): the named
    # observation rides whatever action consumes this frame — a
    # CollectMetrics node, no extra job or scan, rows unchanged.
    # Pipelines get the same counts per micro-batch via
    # StagingPipeline(observe_metrics={...: quarantine_observation()}).
    return decoded.observe("f08b_quarantine", *quarantine_observation())


def make_quarantine_stage(corrupt_every: int = 7):
    """Factory for the dirty-landing decode stage behind f08b: a
    DataFrame->DataFrame transform that encodes each (doc_id, text)
    row into a real container blob, XOR-corrupts the magic bytes of
    every ``corrupt_every``-th doc in flight, and safe-decodes with
    quarantine columns.  A factory (not inline in the query) so
    StagingPipeline transforms and tests run the IDENTICAL stage the
    registered query hash-proves — and so the executor-shipped
    closures are defined inside the function (cloudpickle
    by-reference trap; see tests/test_vanilla_drive.py)."""
    import pandas as pd

    encode_payload = make_encoder()
    safe_decode = make_safe_decoder()

    def encode_and_corrupt(batches):
        for pdf in batches:
            enc = [
                encode_payload(i, t) for i, t in zip(pdf["doc_id"], pdf["text"])
            ]
            # Length-preserving corruption: XOR-flip the first <=2
            # bytes IN PLACE (breaks BMP/RIFF magic), never append —
            # a zero/one-byte payload (empty hostile text) must keep
            # its byte count or the oracle's strlen algebra diverges
            # (caught by the binary-hostile corpus, round 13).
            payloads = [
                (
                    bytes(b ^ 0xFF for b in p[:2]) + p[2:]
                    if (p is not None and i % corrupt_every == 0)
                    else p
                )
                for i, (_m, p) in zip(pdf["doc_id"], enc)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": [m for m, _ in enc],
                    "payload": payloads,
                }
            )

    def extract(batches):
        for pdf in batches:
            decoded = [
                safe_decode(p, m)
                for p, m in zip(pdf["payload"], pdf["modality"])
            ]
            out = {
                "doc_id": pdf["doc_id"],
                "modality": pdf["modality"],
                "payload_bytes": pd.array(
                    [None if p is None else len(p) for p in pdf["payload"]],
                    dtype="Int64",
                ),
            }
            for field in (
                "width", "height", "channels", "sample_rate", "n_samples"
            ):
                out[field] = pd.array(
                    [f[field] for f, _err in decoded], dtype="Int64"
                )
            out["is_quarantined"] = pd.array(
                [0 if err is None else 1 for _f, err in decoded],
                dtype="Int64",
            )
            yield pd.DataFrame(out)

    schema = StructType(
        MULTIMODAL_FEATURE_SCHEMA.fields
        + [StructField("is_quarantined", LongType())]
    )

    def stage(d: DataFrame) -> DataFrame:
        encoded = d.select("doc_id", "text").mapInPandas(
            encode_and_corrupt,
            "doc_id bigint, modality string, payload binary",
        )
        return encoded.mapInPandas(extract, schema)

    return stage


@query(
    "f09_multimodal_framesample",
    oracle="""
    WITH p AS (
      SELECT doc_id, doc_id % 2 + 1 AS ch,
             8000 + (doc_id % 8) * 1000 AS rate, doc_id % 32 + 1 AS ns
      FROM documents
    ),
    k AS (SELECT UNNEST([0, 1, 2, 3]) AS frame_no)
    SELECT p.doc_id, k.frame_no,
           CAST(k.frame_no * p.ns // 4 AS BIGINT) AS sample_idx,
           CAST((p.doc_id * 31 + (k.frame_no * p.ns // 4) * 17) % 2048 - 1024
                AS BIGINT) AS amplitude,
           CAST(p.rate AS BIGINT) AS sample_rate
    FROM p CROSS JOIN k
    """,
)
def f09_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas frame sampling: each binary payload expands to N
    frame rows (1:N batch shape — the video/audio segmentation stage,
    vs f08's 1:1 feature extraction), now hash-tier like f08.

    Stage 1 synthesizes a real 16-bit PCM WAV per document (the f08
    audio container, amplitudes a pure function of (doc_id, sample
    index)); stage 2 parses the RIFF header with stdlib `struct`,
    locates 4 evenly-spaced sample positions (k*n_samples//4), and
    reads each amplitude FROM THE ACTUAL PCM BYTES at offset
    44 + idx*block — so the oracle's arithmetic recomputation verifies
    a genuine bytes->sample decode, not a passed-through value. Row
    expansion happens inside the Arrow batch; both stages are narrow,
    so output partitioning inherits the scan's — no shuffle."""
    import pandas as pd

    d = load(spark, sf_dir, "documents").select("doc_id")
    n_frames = 4
    wav_bytes = make_wav_builder()
    parse_wav = make_wav_parser()

    def encode(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [wav_bytes(i) for i in pdf["doc_id"]],
                }
            )

    encoded = d.mapInPandas(encode, "doc_id bigint, payload binary")

    def sample_frames(batches):
        import struct

        for pdf in batches:
            out = {
                "doc_id": [],
                "frame_no": [],
                "sample_idx": [],
                "amplitude": [],
                "sample_rate": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                meta = parse_wav(payload)
                n, block = meta["n_samples"], meta["block"]
                for k in range(n_frames):
                    idx = k * n // n_frames
                    amp = struct.unpack_from(
                        "<h", payload, meta["data_offset"] + idx * block
                    )[0]
                    out["doc_id"].append(doc_id)
                    out["frame_no"].append(k)
                    out["sample_idx"].append(idx)
                    out["amplitude"].append(amp)
                    out["sample_rate"].append(meta["sample_rate"])
            yield pd.DataFrame(out)

    return encoded.mapInPandas(
        sample_frames,
        "doc_id bigint, frame_no int, sample_idx bigint, "
        "amplitude bigint, sample_rate bigint",
    )


@query(
    "f10_cogroup_in_pandas",
    oracle="""
    WITH e AS (SELECT user_id, COUNT(*) AS n_events,
                      ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                        AS total_value
               FROM events GROUP BY user_id)
    SELECT c.c_custkey AS user_id, c.c_mktsegment,
           COALESCE(e.n_events, 0) AS n_events,
           COALESCE(e.total_value, 0.0) AS total_value
    FROM customer c LEFT JOIN e ON c.c_custkey = e.user_id
    WHERE c.c_custkey < 200
    """,
)
def f10_cogroup_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped pandas map: events and customers cogrouped per user
    key, merged in pandas — the extension point for per-key logic that
    needs BOTH sides' full frames at once (custom as-of merges,
    per-entity reconciliation). Each side shuffles once on the key;
    the pandas function sees one (events_frame, customer_frame) pair
    per key. Money accumulates in integer cents, mirroring the
    decimal-sum oracle."""
    import pandas as pd

    cents = make_cents()

    # The customer side's c_custkey < 200 predicate transits the
    # cogroup key: an event with user_id >= 200 (or NULL) can never
    # cogroup with a surviving customer row, and merge() emits nothing
    # when cust_pdf is empty — so those events only ride the shuffle
    # and the Python boundary to be discarded. Spark cannot infer a
    # filter across FlatMapCoGroupsInPandas (the pandas function is
    # opaque), so the transitive predicate is applied by hand; it
    # reaches the events scan as a pushed parquet filter. Events with
    # user_id < 200 but no customer row still form an (events, empty)
    # cogroup either way — dropped by the len(cust_pdf)==0 branch — so
    # the output is unchanged row-for-row.
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 200)
        .select("user_id", "value")
    )
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 200)
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )

    def merge(events_pdf, cust_pdf):
        if len(cust_pdf) == 0:
            return pd.DataFrame(
                columns=["user_id", "c_mktsegment", "n_events", "total_value"]
            )
        # Skip NULL values in the cents fold (round-9 adversarial
        # audit — int(NaN) crashed the task). The query's contract is
        # the oracle's COALESCE: a user with no events AND a user whose
        # events are all NULL-valued both total 0.0 (unlike e06/e10,
        # whose un-COALESCEd SUM oracles emit NULL for the latter).
        total = sum(cents(v) for v in events_pdf["value"] if pd.notna(v))
        return pd.DataFrame(
            {
                "user_id": [int(cust_pdf["user_id"].iloc[0])],
                "c_mktsegment": [cust_pdf["c_mktsegment"].iloc[0]],
                "n_events": [len(events_pdf)],
                "total_value": [total / 100.0],
            }
        )

    return (
        e.groupBy("user_id")
        .cogroup(c.groupBy("user_id"))
        .applyInPandas(
            merge,
            "user_id bigint, c_mktsegment string, n_events bigint, total_value double",
        )
    )
