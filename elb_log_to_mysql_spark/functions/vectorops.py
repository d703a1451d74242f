"""Vectorized dense-vector kernels (Arrow-batched, mapInPandas-staged).

The engine's rule is JVM expressions first — but Spark's higher-order
array functions (`zip_with`/`aggregate`) are *interpreted*, not
codegen'd: a dot product against k hyperplanes written as HOFs costs
~ms per row. Dense linear algebra over fixed-width embedding columns
is the one place Python beats the JVM path by orders of magnitude,
because Arrow hands the batch to numpy as one matrix and the work
becomes a single BLAS matmul. These kernels keep that boundary
narrow: in = array column(s), out = small array/scalar column(s), no
per-row Python.

Physical form — mapInPandas stages, NEVER scalar pandas-UDF
expressions. A scalar pandas UDF is an expression inside a
projection, and under heavy concurrent planning Spark's
codegen-fallback path has been seen handing the raw PythonUDF to an
InterpretedUnsafeProjection in a shuffle-write stage before
ExtractPythonUDFs lifts it (THROUGHPUT_r11 known_flake —
'[INTERNAL_ERROR] Cannot evaluate expression: _mh(...)'; the race
was proven real under 8-way planning and structurally fixed for the
minhash signer in round 12). A mapInPandas stage leaves NO Python
expression in any projection — downstream operators only ever see
its output attributes — so that failure mode is structurally
impossible. Round 13 applies the same conversion to every remaining
kernel (`arrow_stage` below is the shared wrapper): the package has
zero scalar pandas UDFs in expression position.

Determinism: float64 matmul with fixed operand order; sign/argmin
boundaries are measure-zero for real data. Batches are independent
rows, so partitioning cannot change any row's result.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame


def _stack(s: pd.Series) -> np.ndarray:
    return np.vstack(s.to_numpy())


# ---------------------------------------------------------------------------
# the shared mapInPandas stage builder
# ---------------------------------------------------------------------------


def arrow_stage(frame: DataFrame, outputs, drop: tuple[str, ...] = ()):
    """Append Arrow-computed columns to a frame as ONE mapInPandas
    physical stage.

    ``outputs`` is a list of ``(name, spark_ddl_type, fn)`` where
    ``fn`` maps the batch ``pandas.DataFrame`` to a sequence of
    ``len(batch)`` values. All kernels in one call share a single
    Python round-trip. ``drop`` names input columns consumed by the
    kernels that downstream does not need — they are dropped INSIDE
    the stage, so (unlike the old scalar-UDF form, where the JVM kept
    them) they are never serialized back out of Python.

    Rows reach the kernels exactly as Arrow batches; empty batches
    are skipped. Column order: surviving inputs first (input order),
    then outputs in the given order.
    """
    from pyspark.sql import types as T

    dropped = set(drop)
    keep = [f for f in frame.schema.fields if f.name not in dropped]
    names = [f.name for f in keep]
    out_names = [n for n, _, _ in outputs]
    # fail at plan-build, not as an executor-side Arrow column-count
    # mismatch: a kernel output shadowing a surviving input would
    # silently overwrite it in the generator dict while the schema
    # keeps both StructFields
    clash = set(out_names) & set(names)
    if clash:
        raise ValueError(
            f"arrow_stage: output column(s) {sorted(clash)} collide with "
            f"surviving input columns — rename the output or add the "
            f"input to drop="
        )
    if len(out_names) != len(set(out_names)):
        raise ValueError(
            f"arrow_stage: duplicate output column names in {out_names}"
        )
    out_fields = [
        T.StructField(n, T._parse_datatype_string(ddl)) for n, ddl, _ in outputs
    ]
    schema = T.StructType(keep + out_fields)
    kernels = [(n, fn) for n, _, fn in outputs]

    def _gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {n: pdf[n].reset_index(drop=True) for n in names}
            for n, fn in kernels:
                out[n] = pd.Series(list(fn(pdf)))
            yield pd.DataFrame(out)

    return frame.mapInPandas(_gen, schema=schema)


# ---------------------------------------------------------------------------
# batch kernel factories (pure numpy; closures pickle to executors)
# ---------------------------------------------------------------------------


def lsh_buckets_fn(planes: np.ndarray):
    """All LSH table bucket ids for a vector batch in one matmul.

    `planes` has shape (n_tables, n_planes, dim). Bucket id for table
    t = packed sign bits of planes[t] @ vec. The returned fn maps a
    vector Series to a list of int64 arrays of length n_tables.
    """
    n_tables, n_planes, dim = planes.shape
    flat = planes.reshape(n_tables * n_planes, dim).T.astype(np.float64)
    weights = (2 ** np.arange(n_planes - 1, -1, -1)).astype(np.int64)

    def fn(v: pd.Series):
        x = _stack(v).astype(np.float64)             # (n, dim)
        signs = (x @ flat) >= 0                      # (n, tables*planes)
        bits = signs.reshape(len(x), n_tables, n_planes)
        return list((bits * weights).sum(axis=2))    # (n, tables)

    return fn


def center_dists_fn(centers: np.ndarray):
    """Squared L2 distance from a vector batch to every center:
    one (n, dim) @ (dim, k) matmul per Arrow batch. The returned fn
    maps a vector Series to a list of float64 arrays of length k.
    """
    c = centers.astype(np.float64)                   # (k, dim)
    c_sq = (c * c).sum(axis=1)                       # (k,)

    def fn(v: pd.Series):
        x = _stack(v).astype(np.float64)             # (n, dim)
        x_sq = (x * x).sum(axis=1, keepdims=True)    # (n, 1)
        d2 = x_sq - 2.0 * (x @ c.T) + c_sq           # (n, k)
        return list(np.maximum(d2, 0.0))

    return fn


def cosine_pairs(va: pd.Series, vb: pd.Series) -> np.ndarray:
    """Cosine similarity of two aligned vector batches (one value per
    row). For candidate-pair rerank stages where both sides vary per
    row. Zero-norm rows score 0 (norm treated as 1)."""
    x = _stack(va).astype(np.float64)
    y = _stack(vb).astype(np.float64)
    num = np.einsum("ij,ij->i", x, y)
    den = np.linalg.norm(x, axis=1) * np.linalg.norm(y, axis=1)
    den[den == 0] = 1.0
    return num / den


def simhash_fp_batch(th: pd.Series) -> np.ndarray:
    """SimHash fingerprints over a batch of int64 token-hash arrays.

    Per row: bit b of the fingerprint is set iff more tokens have bit
    b set than clear (vote_b = sum(±1) > 0) — the semantics of an
    explode+aggregate formulation (not implemented here, and not
    compared by any test), but computed map-side per Arrow batch: unpack the (total_tokens, 64) bit matrix once,
    segment-sum with np.add.reduceat, threshold. No explode, no
    shuffle — the fingerprint never leaves the scan stage.

    Empty-token rows get fp=0 (every vote is -1).
    """
    n = len(th)
    rows = [np.asarray(x, dtype=np.int64) for x in th]
    lens = np.array([len(r) for r in rows], dtype=np.int64)
    out = np.zeros(n, dtype=np.int64)
    nonempty = lens > 0
    if nonempty.any():
        flat = np.concatenate([r for r in rows if len(r)]).view(np.uint64)
        shifts = np.arange(64, dtype=np.uint64)
        bits = ((flat[:, None] >> shifts[None, :]) & np.uint64(1)).astype(
            np.int64
        )  # (N, 64)
        starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=starts[1:])
        counts = np.add.reduceat(bits, starts, axis=0)  # (rows, 64)
        votes = 2 * counts - lens[nonempty][:, None]
        fp = ((votes > 0).astype(np.uint64) << shifts[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        out[nonempty] = fp.view(np.int64)
    return out


# ---------------------------------------------------------------------------
# frame-level wrappers (the only forms the package's operators use)
# ---------------------------------------------------------------------------


def with_lsh_buckets(
    frame: DataFrame, vec_col: str, planes: np.ndarray, out: str = "_bks",
    drop: tuple[str, ...] = (),
) -> DataFrame:
    """Append an array<long> column of all n_tables LSH bucket ids."""
    k = lsh_buckets_fn(planes)
    return arrow_stage(
        frame, [(out, "array<long>", lambda pdf: k(pdf[vec_col]))], drop=drop
    )


def with_center_distances(
    frame: DataFrame, vec_col: str, centers: np.ndarray, out: str = "_dists",
    drop: tuple[str, ...] = (),
) -> DataFrame:
    """Append an array<double> column of squared L2 distances to every
    center."""
    k = center_dists_fn(centers)
    return arrow_stage(
        frame, [(out, "array<double>", lambda pdf: k(pdf[vec_col]))], drop=drop
    )


def with_pairwise_cosine(
    frame: DataFrame, a_col: str, b_col: str, out: str = "cos",
    drop: tuple[str, ...] = (),
) -> DataFrame:
    """Append a double column of per-row cosine(a_col, b_col). Rerank
    stages pass drop=(a_col, b_col) so the wide vectors die inside the
    stage and the downstream rank shuffle moves only ids + the score."""
    return arrow_stage(
        frame,
        [(out, "double", lambda pdf: cosine_pairs(pdf[a_col], pdf[b_col]))],
        drop=drop,
    )


def with_simhash_fp(
    frame: DataFrame, th_col: str, out: str = "fp",
    drop: tuple[str, ...] = (),
) -> DataFrame:
    """Append the long SimHash fingerprint of an array<long> token-hash
    column (see simhash_fp_batch for semantics)."""
    return arrow_stage(
        frame, [(out, "long", lambda pdf: simhash_fp_batch(pdf[th_col]))],
        drop=drop,
    )


def minhash_sig_rows(
    frame,
    num_hashes: int = 64,
    seed: int = 42,
    shingles_col: str = "shingles",
    carry: tuple[str, ...] = (),
):
    """(doc_id, sig[, carry...]) frame via a mapInPandas signer.

    Hash family: Dietzfelbinger multiply-shift — sig_i = min over
    shingles of (a_i·h + b_i) mod 2^64 with odd a_i, computed as one
    (total_shingles, k) outer product per Arrow batch with natural
    uint64 wraparound, then a per-row segment min via
    `np.minimum.reduceat` (the flattened shingles are already in row
    order). Rows with no shingles get the all-max signature (callers
    filter empty docs anyway).

    Packaged as its OWN physical operator (MapInPandas) — the round-12
    structural fix for the concurrent-planning race (see module
    docstring); batch near_dedup and the streaming signer share this
    path, so signatures are bit-identical across both.

    `frame` must contain `doc_id`, an array<long> `shingles_col`, and
    any `carry` columns, which pass through untouched.
    """
    from pyspark.sql import types as T

    a_co, b_co = minhash_coefficients(num_hashes, seed)
    fields = {f.name: f for f in frame.schema.fields}
    schema = T.StructType(
        [fields["doc_id"], T.StructField("sig", T.ArrayType(T.LongType()))]
        + [fields[c] for c in carry]
    )

    def _sign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sigs = minhash_matrix(pdf[shingles_col], num_hashes, a_co, b_co)
            out = {"doc_id": pdf["doc_id"], "sig": list(sigs)}
            for c in carry:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return frame.select("doc_id", shingles_col, *carry).mapInPandas(
        _sign, schema=schema
    )


def minhash_coefficients(
    num_hashes: int = 64, seed: int = 42
) -> tuple[np.ndarray, np.ndarray]:
    """The multiply-shift family's (a, b) coefficient vectors. Shared
    by every signer entry point so all produce BIT-IDENTICAL
    signatures for the same shingles."""
    rng = np.random.RandomState(seed)
    a_co = (
        rng.randint(0, 2**63, size=num_hashes).astype(np.uint64) << np.uint64(1)
    ) | np.uint64(1)
    b_co = rng.randint(0, 2**63, size=num_hashes).astype(np.uint64)
    return a_co, b_co


def minhash_matrix(
    sh, num_hashes: int, a_co: np.ndarray, b_co: np.ndarray
) -> np.ndarray:
    """The raw signature kernel: an iterable of int64 shingle-hash
    arrays -> (n, num_hashes) int64 signature matrix (all-max rows for
    empty inputs). One flattened outer product + segment-min per call —
    the vectorized core every Arrow entry point shares."""
    rows = [np.asarray(x, dtype=np.int64) for x in sh]
    n = len(rows)
    lens = np.array([len(r) for r in rows], dtype=np.int64)
    out = np.full((n, num_hashes), np.iinfo(np.int64).max, dtype=np.int64)
    nonempty = lens > 0
    if nonempty.any():
        flat = np.concatenate([r for r in rows if len(r)]).view(np.uint64)
        h_all = flat[:, None] * a_co[None, :] + b_co[None, :]  # mod 2^64
        starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=starts[1:])
        mins = np.minimum.reduceat(h_all, starts, axis=0)
        out[nonempty] = mins.view(np.int64)
    return out


def _normalized_subvectors(v: pd.Series, m: int, d_sub: int) -> np.ndarray:
    """(n, m, d_sub) unit-normalized subvector tensor for a batch.
    Zero vectors pass through unscaled (norm treated as 1) — they
    land in whatever cell is nearest to the origin, deterministically."""
    x = _stack(v).astype(np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return (x / norms).reshape(len(x), m, d_sub)


def _sub_distances(subs: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Squared L2 from every subvector to every sub-centroid:
    (n, m, d_sub) x (m, k, d_sub) -> (n, m, k). The cross term is a
    batched matmul (m GEMMs), NOT a bare einsum: np.einsum without
    `optimize` lowers "nmd,mkd->nmk" to a naive C loop nest — measured
    200 s/Lloyd-iteration at n=100k, m=16, k=256 vs ~1 s through BLAS
    (a 264 s codebook "training cost" in ANN_SCALE_PROBE that was
    really an einsum dispatch artifact). Same kernel serves the
    per-Arrow-batch encode in pq_codes_fn, so the fix speeds the query
    path too. The (n, m, k, d_sub) broadcast alternative would be
    d_sub x larger in memory."""
    x_sq = (subs * subs).sum(axis=2, keepdims=True)          # (n, m, 1)
    c_sq = (codebooks * codebooks).sum(axis=2)               # (m, k)
    # (m, n, d_sub) @ (m, d_sub, k) -> (m, n, k) -> (n, m, k)
    cross = np.matmul(
        np.ascontiguousarray(subs.transpose(1, 0, 2)),
        np.ascontiguousarray(codebooks.transpose(0, 2, 1)),
    ).transpose(1, 0, 2)
    return np.maximum(x_sq - 2.0 * cross + c_sq[None], 0.0)


def _sub_argmin(
    subs: np.ndarray, codebooks: np.ndarray, chunk: int = 512
) -> np.ndarray:
    """Nearest sub-centroid index per (row, subspace): the assignment
    kernel for PQ encode and codebook training. Never materializes
    the full (n, m, k) distance tensor — at n=100k, m=16, k=256 that
    is 3.3 GB of float64 whose first-touch writes dominated the old
    path; instead each 512-row block's distances (~17 MB, L3-resident)
    are computed and argmin-reduced in place (measured 2.4 s vs 200 s
    for the full-tensor einsum at 100k rows). The row-constant x²
    term is dropped — argmin-invariant — and ties still break to the
    lowest index via argmin's first-match rule."""
    n, m = subs.shape[0], codebooks.shape[0]
    b = np.ascontiguousarray(codebooks.transpose(0, 2, 1))   # (m, d_sub, k)
    c_sq = (codebooks * codebooks).sum(axis=2)               # (m, k)
    out = np.empty((n, m), dtype=np.int32)
    for s in range(0, n, chunk):
        ch = np.ascontiguousarray(subs[s : s + chunk].transpose(1, 0, 2))
        d = c_sq[:, None, :] - 2.0 * np.matmul(ch, b)        # (m, c, k)
        out[s : s + chunk] = d.argmin(axis=2).T
    return out


def _sub_assign_with_err(
    subs: np.ndarray, codebooks: np.ndarray, chunk: int = 512
) -> tuple[np.ndarray, np.ndarray]:
    """PQ assignment + per-row total reconstruction error in one pass:
    same chunked kernel as `_sub_argmin`, additionally min-reducing
    the chunk distances. The dropped row-constant x² term is added
    back per (row, subspace) so the returned error is the TRUE squared
    L2 residual ||x - recon(x)||² summed over subspaces — the
    quantity that bounds how far an ADC score can sit from the true
    distance (|ADC - true| <= 2·sqrt(true·err) + err by
    Cauchy-Schwarz), which is what the adaptive rerank band is sized
    from."""
    n, m = subs.shape[0], codebooks.shape[0]
    b = np.ascontiguousarray(codebooks.transpose(0, 2, 1))   # (m, d_sub, k)
    c_sq = (codebooks * codebooks).sum(axis=2)               # (m, k)
    x_sq = (subs * subs).sum(axis=2)                         # (n, m)
    codes = np.empty((n, m), dtype=np.int32)
    err = np.empty((n, m), dtype=np.float64)
    for s in range(0, n, chunk):
        ch = np.ascontiguousarray(subs[s : s + chunk].transpose(1, 0, 2))
        d = c_sq[:, None, :] - 2.0 * np.matmul(ch, b)        # (m, c, k)
        codes[s : s + chunk] = d.argmin(axis=2).T
        err[s : s + chunk] = d.min(axis=2).T
    return codes, np.maximum(err + x_sq, 0.0).sum(axis=1)


def with_pq_index_cols(
    frame: DataFrame,
    vec_col: str,
    codebooks: np.ndarray,
    centers: np.ndarray | None = None,
    qerr: bool = False,
    drop: tuple[str, ...] = (),
) -> DataFrame:
    """The PQ/IVFPQ index-build stage: ONE mapInPandas pass emitting
    `codes` (array<int>), optionally `pq_err` (double — per-vector PQ
    reconstruction error, see _sub_assign_with_err) and optionally
    `_dists` (array<double> — squared L2 to the IVF coarse `centers`).
    All requested outputs share a single Python round trip and a
    single normalization/assignment pass — the combined form the
    similarity operators use so the corpus never crosses Arrow
    twice."""
    from pyspark.sql import types as T

    cb = codebooks.astype(np.float64)
    m, _, d_sub = cb.shape
    dists_k = center_dists_fn(centers) if centers is not None else None

    dropped = set(drop)
    keep = [f for f in frame.schema.fields if f.name not in dropped]
    names = [f.name for f in keep]
    out_fields = [T.StructField("codes", T.ArrayType(T.IntegerType()))]
    if qerr:
        out_fields.append(T.StructField("pq_err", T.DoubleType()))
    if dists_k is not None:
        out_fields.append(
            T.StructField("_dists", T.ArrayType(T.DoubleType()))
        )
    schema = T.StructType(keep + out_fields)

    def _gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            subs = _normalized_subvectors(pdf[vec_col], m, d_sub)
            # dict insertion order MUST match the schema's field order
            out = {n: pdf[n].reset_index(drop=True) for n in names}
            if qerr:
                codes, err = _sub_assign_with_err(subs, cb)
                out["codes"] = pd.Series(list(codes))
                out["pq_err"] = pd.Series(err)
            else:
                out["codes"] = pd.Series(list(_sub_argmin(subs, cb)))
            if dists_k is not None:
                out["_dists"] = pd.Series(list(dists_k(pdf[vec_col])))
            yield pd.DataFrame(out)

    return frame.mapInPandas(_gen, schema=schema)


def with_unit_norm(
    frame: DataFrame, vec_col: str, out: str = "_nv",
    drop: tuple[str, ...] = (),
) -> DataFrame:
    """Append the L2-unit-normalized copy of a vector column (zero
    vectors pass through unchanged). One batched numpy divide per
    Arrow batch — the HOF equivalent (aggregate for the norm +
    transform for the divide) is interpreted per row. Used by the
    derived-nprobe IVF path, where cell pruning needs L2 geometry to
    coincide with the cosine ranking (for unit vectors
    ||a-b||^2 = 2 - 2*cos)."""

    def fn(v: pd.Series):
        x = _stack(v).astype(np.float64)
        n = np.linalg.norm(x, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return list(x / n)

    return arrow_stage(
        frame, [(out, "array<double>", lambda pdf: fn(pdf[vec_col]))],
        drop=drop,
    )


def pq_codes_fn(codebooks: np.ndarray):
    """Product-quantization codes for a vector batch.

    `codebooks` has shape (m, k, d_sub) with m·d_sub = dim. Each
    vector is unit-normalized, split into m subvectors, and each
    subvector mapped to the index of its nearest sub-centroid
    (squared L2; ties break to the lowest index via argmin's
    first-match rule). The returned fn maps a vector Series to a list
    of int32 arrays of length m — the 100 TB representation: m small
    ints per vector instead of dim floats.
    """
    cb = codebooks.astype(np.float64)
    m, _, d_sub = cb.shape

    def fn(v: pd.Series):
        subs = _normalized_subvectors(v, m, d_sub)
        return list(_sub_argmin(subs, cb))

    return fn


def pq_lut_fn(codebooks: np.ndarray):
    """Per-query asymmetric-distance lookup table: squared L2 from
    each unit-normalized query subvector to every sub-centroid.
    The returned fn maps a vector Series to a list of (m, k) nested
    lists; ADC distance to a coded corpus vector is then
    sum_m lut[m][code_m] — m array lookups per candidate, computed
    JVM-side.
    """
    cb = codebooks.astype(np.float64)
    m, _, d_sub = cb.shape

    def fn(v: pd.Series):
        subs = _normalized_subvectors(v, m, d_sub)
        d = _sub_distances(subs, cb)                         # (n, m, k)
        return [[list(row) for row in tbl] for tbl in d]

    return fn


def with_pq_codes(
    frame: DataFrame, vec_col: str, codebooks: np.ndarray, out: str = "codes",
    drop: tuple[str, ...] = (),
) -> DataFrame:
    """Append the array<int> PQ code column (see pq_codes_fn)."""
    k = pq_codes_fn(codebooks)
    return arrow_stage(
        frame, [(out, "array<int>", lambda pdf: k(pdf[vec_col]))], drop=drop
    )


def with_pq_lut(
    frame: DataFrame, vec_col: str, codebooks: np.ndarray, out: str = "lut",
    drop: tuple[str, ...] = (),
) -> DataFrame:
    """Append the array<array<double>> per-query ADC lookup table
    (see pq_lut_fn)."""
    k = pq_lut_fn(codebooks)
    return arrow_stage(
        frame,
        [(out, "array<array<double>>", lambda pdf: k(pdf[vec_col]))],
        drop=drop,
    )
