"""Pandas UDF definitions (SURVEY.md C29-C30).

NOTE: no `from __future__ import annotations` here — pandas_udf infers the
UDF eval type from *runtime* type hints, and PEP-563 stringified annotations
break that inference for grouped-agg signatures.

UDFs are the engine's slow path: everything here is Arrow-batched
(never row-at-a-time), and each UDF has a pure-SQL equivalent in the
verification registry proving the fast path could replace it.
"""

import pandas as pd

from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType, StringType

# DataType objects, not DDL strings: string return types are parsed through
# the active SparkContext at decoration time, which would make this module
# unimportable before a session exists.


@pandas_udf(LongType())
def charge_milli_cents(ep: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
    """Per-row charge in exact integer 'milli-cents':
    round(ep*100) * (100 - round(disc*100)) * (100 + round(tax*100)).

    Integer-domain arithmetic so the result is bit-identical to the SQL
    formulation regardless of engine or accumulation order.
    """
    ep_c = (ep * 100).round().astype("int64")
    disc_c = (disc * 100).round().astype("int64")
    tax_c = (tax * 100).round().astype("int64")
    return ep_c * (100 - disc_c) * (100 + tax_c)


@pandas_udf(DoubleType())
def weighted_mean(values: pd.Series, weights: pd.Series) -> float:
    """Grouped-agg pandas UDF: sum(v*w)/sum(w) (custom UDAF surface)."""
    return float((values * weights).sum() / weights.sum())


def make_minhash_udf(num_hashes: int, shingle_k: int):
    """Factory for the per-document MinHash signature UDF.

    Whole signature in one Arrow batch pass: char-k-shingles via a numpy
    sliding window over the utf-8 bytes, a Horner polynomial base hash mod
    the Mersenne prime 2^31-1, then `num_hashes` universal-hash mins
    computed as one (H x n_shingles) affine transform + min-reduce (the
    coefficients come from RandomState(42)). This is a pure per-row map — no
    explode, no shuffle — so at 100 TB the signature stage costs one scan of
    the corpus (contrast: exploding shingles multiplies the row count by
    ~doc_length before aggregating back down).

    All arithmetic stays below 2^62 (a_i < P = 2^31-1, h < P), so values
    are exact in int64 — deterministic across runs, batch sizes, and
    partitionings. Empty/short docs (< k chars) get the signature of the
    empty shingle set: P for every component (sentinel max, never collides
    with a real min).
    """
    import numpy as np

    p = 2147483647  # 2^31 - 1
    rs = np.random.RandomState(42)
    a = rs.randint(1, p, size=num_hashes).astype(np.int64)
    b = rs.randint(0, p, size=num_hashes).astype(np.int64)

    # chunk the (num_hashes x n_shingles) affine matrix so transient memory
    # stays ~100 MB regardless of Arrow batch size
    max_chunk_shingles = 200_000

    @pandas_udf(ArrayType(LongType()))
    def minhash_sig(texts: pd.Series) -> pd.Series:
        import numpy as np

        empty = np.full(num_hashes, p, dtype=np.int64)
        n = len(texts)
        out: list = [empty] * n
        # base hashes per doc (cheap python loop; numpy inner ops), then the
        # expensive affine+min step batched across docs via minimum.reduceat
        idxs: list[int] = []
        hs: list = []
        pending = 0
        for i, t in enumerate(texts):
            data = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
            if len(data) < shingle_k:
                continue
            win = np.lib.stride_tricks.sliding_window_view(data, shingle_k).astype(np.int64)
            h = np.zeros(win.shape[0], dtype=np.int64)
            for col in range(shingle_k):  # Horner fold, mod each step
                h = (h * 257 + win[:, col]) % p
            idxs.append(i)
            hs.append(h)
            pending += len(h)
            if pending >= max_chunk_shingles:
                allh = np.concatenate(hs)
                sigs = (a[:, None] * allh[None, :] + b[:, None]) % p
                starts = np.zeros(len(hs), dtype=np.int64)
                np.cumsum([len(x) for x in hs[:-1]], out=starts[1:])
                mins = np.minimum.reduceat(sigs, starts, axis=1)
                for j, doc_i in enumerate(idxs):
                    out[doc_i] = mins[:, j]
                idxs, hs, pending = [], [], 0
        if hs:
            allh = np.concatenate(hs)
            sigs = (a[:, None] * allh[None, :] + b[:, None]) % p
            starts = np.zeros(len(hs), dtype=np.int64)
            np.cumsum([len(x) for x in hs[:-1]], out=starts[1:])
            mins = np.minimum.reduceat(sigs, starts, axis=1)
            for j, doc_i in enumerate(idxs):
                out[doc_i] = mins[:, j]
        return pd.Series(out)

    return minhash_sig


def make_cdc_chunk_udf():
    """Factory for the content-defined-chunking UDF: text -> array<long> of
    chunk fingerprints.

    Boundaries are where a rolling hash of the last 8 bytes hits
    `h % 64 == 0` — so they are defined by CONTENT, not offsets: inserting
    text into a document shifts every byte offset but leaves the chunk
    fingerprints outside the edit untouched. That is what makes
    chunk-overlap a partial-duplicate (containment/quotation) signal that
    whole-document fingerprints cannot provide. Expected chunk length ~= 64
    bytes. Fully vectorized per Arrow batch: sliding-window polynomial
    hashes (as in MinHash), boundary mask, add.reduceat per chunk;
    fingerprint = (chunk-hash-sum * 131 + chunk_len) % p, exact in int64
    and independent of batch/partition boundaries.
    """
    import numpy as np

    p = 2147483647  # 2^31 - 1
    window, target_chunk = 8, 64

    @pandas_udf(ArrayType(LongType()))
    def cdc_chunks(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in texts:
            data = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
            if len(data) < window:
                out.append(np.array([int(len(data))], dtype=np.int64))
                continue
            win = np.lib.stride_tricks.sliding_window_view(data, window).astype(np.int64)
            h = np.zeros(win.shape[0], dtype=np.int64)
            for col in range(window):
                h = (h * 257 + win[:, col]) % p
            # chunk starts: position 0 plus every boundary hit
            boundary = np.flatnonzero(h % target_chunk == 0) + 1
            starts = np.concatenate(([0], boundary[boundary < len(h)]))
            starts = np.unique(starts)
            sums = np.add.reduceat(h, starts) % p
            lens = np.diff(np.concatenate((starts, [len(h)])))
            out.append((sums * 131 + lens) % p)
        return pd.Series(out)

    return cdc_chunks


def make_hyperplane_bucket_udf(n_planes: int, n_tables: int, seed: int):
    """Factory for the LSH bucket-assignment UDF (see operators.similarity).

    Computes ALL `n_tables` random-hyperplane keys for a batch of vectors in
    one numpy matmul (N x dim @ dim x (tables*planes)); key = table_index <<
    n_planes | sign_bits, a plain long, so the candidate join shuffles
    8-byte keys. The equivalent per-plane zip_with+aggregate expression is
    evaluated interpreted (higher-order functions never enter whole-stage
    codegen), so at 48 planes x 64 dims it dominated the whole pipeline;
    one BLAS matmul per Arrow batch is ~100x cheaper.

    The planes are `tables*planes` uniform(-1, 1) rows from numpy's legacy
    RandomState(seed) stream (stability-guaranteed: same seed, same planes
    on every run), as wide as the vectors in the batch and cached per
    width, so no width knob can disagree with the data. Lives here (not
    similarity.py) because pandas_udf infers its eval type from RUNTIME
    type hints and this module keeps PEP-563 stringification off.
    """
    import numpy as np

    pow2 = (2 ** np.arange(n_planes)).astype(np.int64)
    offsets = np.arange(n_tables, dtype=np.int64) << n_planes
    planes_by_width: dict = {}

    @pandas_udf(ArrayType(LongType()))
    def bucket_keys(vecs: pd.Series) -> pd.Series:
        import numpy as np  # noqa: F811 (executor-side import)

        m = np.stack(vecs.to_numpy()).astype(np.float64)
        width = m.shape[1]
        if width not in planes_by_width:
            planes_by_width[width] = np.random.RandomState(seed).uniform(
                -1.0, 1.0, size=(n_planes * n_tables, width)
            )
        signs = (m @ planes_by_width[width].T) >= 0.0
        bits = signs.reshape(len(m), n_tables, n_planes) @ pow2
        return pd.Series(list(bits + offsets))

    return bucket_keys


@pandas_udf(DoubleType())
def dot_product(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized dot product over two array<double> columns.

    The scoring hot path for LSH candidate pairs: numpy crunches an Arrow
    batch of vectors at C speed, where the equivalent zip_with+aggregate
    expression evaluates interpreted per element. Used only in approximate
    arms — exact oracle-matched arms keep the deterministic left-fold.
    """
    import numpy as np

    va = np.stack(a.to_numpy())
    vb = np.stack(b.to_numpy())
    return pd.Series(np.einsum("ij,ij->i", va, vb))


@pandas_udf(StringType())
def nfc_normalize(texts: pd.Series) -> pd.Series:
    """Unicode NFC normalization (composed form) — the multilingual
    pre-dedup step: 'e' + COMBINING ACUTE and the precomposed 'é' are the
    same text to a reader but different bytes to a hash, so exact dedup
    and fingerprinting must canonicalize first.

    Spark has no built-in Unicode normalizer, so this is one of the
    documented Python-unavoidable cases (like codec decode): an
    Arrow-batched pandas UDF over `unicodedata.normalize`, semantically
    identical to the DuckDB oracle's NFC_NORMALIZE (both implement
    Unicode Standard Annex #15 NFC).
    """
    import unicodedata

    return texts.map(
        lambda t: unicodedata.normalize("NFC", t) if t is not None else None
    )
