"""User-agent classification (reference P12, etl:109-112).

The reference calls ``user_agents.parse(ua).browser.family`` /
``.os.family`` per row — i.e. it evaluates the public uap-core regex
database. Both of this engine's paths are now driven by the SAME
vendored uap-core-format database (``data/ua_regexes.yaml``, loaded
and compiled by :mod:`elb_log_to_mysql_spark.functions.uap`):

- :func:`ua_browser_family_expr` / :func:`ua_os_family_expr` — the
  database compiled into a pure column-expression ``when``/``rlike``
  ladder. Stays inside whole-stage codegen (no Python at all) and is
  the default of ``parse_alb_lines``.
- :func:`classify_ua_rows` — Arrow-batched mapInPandas stage running
  the exact uap-core resolution algorithm per string: the installed
  ``user_agents`` wrapper when importable, else the vendored
  pure-Python evaluator (:func:`uap.parse_browser_family`) — so the
  exact-parity path executes in every environment, not only where
  the third-party wrapper happens to be installed. A mapInPandas
  stage rather than a scalar pandas-UDF expression: no PythonUDF
  ever sits in a projection, which closes the concurrent-planning
  codegen-fallback race class engine-wide (see
  functions/vectorops.py module docstring).
- :func:`classify_ua_join` — that stage over the DISTINCT agents,
  broadcast-joined back; how both ALB file ingests (batch
  ``read_alb_logs`` and the stream ingest) classify.

The ladder, the evaluator, and the oracle-side DuckDB CASE
compilation agree by construction — including the database's generic
``$n`` capture entries, which compile to ``regexp_extract``
concatenations on the JVM/DuckDB sides (uap.py) — and
tests/test_ua_corpus.py pins all of them to the same ~150-UA
uap-core corpus fixture. For byte-exact parity with an upstream
uap-core checkout, point ``SPARK_ELB_UA_DB`` at its ``regexes.yaml``
and every compilation evaluates the full public database.

The ``"-"``/empty sentinel maps to ``Unknown`` in both paths (etl:110).
"""

from __future__ import annotations

from pyspark.sql import Column

from elb_log_to_mysql_spark.functions import uap

try:  # optional third-party wrapper; not installed in this sandbox
    import user_agents as _user_agents  # type: ignore
except ImportError:  # pragma: no cover
    _user_agents = None

HAVE_USER_AGENTS = _user_agents is not None


def ua_browser_family_expr(ua: Column | str) -> Column:
    """Browser family: the vendored uap-core database compiled to an
    ordered ``rlike`` ladder (most-specific first — see the ordering
    notes in data/ua_regexes.yaml: crawlers before browsers, rebadged
    Chromiums before Chrome, Chrome before Safari).

    Family-name contract: named families use uap-core's spelling (so
    rows match a reference run for those agents); rare STRUCTURED
    agents resolve to their real product token through the database's
    generic $1 tails (*bot/*spider/*crawler capture, "compatible;
    Token/1.0" capture, Token/version capture) — uap-core's own
    long-tail behavior — and only genuinely unstructured strings fall
    to "Other" (with unmatched Mozilla/... UAs explicitly guarded to
    "Other", never "Mozilla"). Pinned in tests/test_ua_corpus.py.
    """
    return uap.compile_when_ladder(ua, uap.browser_parsers())


def ua_os_family_expr(ua: Column | str) -> Column:
    return uap.compile_when_ladder(ua, uap.os_parsers())


def classify_ua_rows(
    frame,
    ua_col: str,
    browser_col: str = "__ua_browser",
    os_col: str = "__ua_os",
    prefer_wrapper: bool = True,
):
    """Exact uap-core resolution as an Arrow-batched mapInPandas stage:
    appends two string columns (``browser_col``, ``os_col``) to
    ``frame``, classifying ``ua_col`` per row. All input columns pass
    through untouched; works on batch and streaming frames.

    With ``prefer_wrapper`` (the default, what elb_parse uses) the
    ``user_agents`` wrapper is used when importable — byte-for-byte
    the reference's code path, evaluating the FULL uap-core database;
    otherwise (or with ``prefer_wrapper=False``) the vendored database
    is evaluated with the same first-match/$n algorithm
    (functions/uap.py) — always available, so this path is exercised
    by tests and registry entries instead of lying dormant.

    ``prefer_wrapper=False`` exists for callers whose CONTRACT is
    agreement with the vendored database's other compilations (the
    ua_classify driver entry: its DuckDB CASE oracle and the CASE
    ladder both evaluate the vendored database, so the upstream-full
    wrapper — which names some agents differently at the margins —
    would spuriously diverge in environments where user_agents
    happens to be installed). Since r8 the vendored database itself
    names the long tail via its generic $n capture entries, so the
    gap between the two paths is narrow; byte-exact agreement with
    an upstream checkout comes from pointing SPARK_ELB_UA_DB at its
    regexes.yaml (then BOTH paths evaluate the full database).
    """
    # pandas is imported lazily: this module's expression-ladder path
    # must import with zero third-party deps.
    import pandas as pd

    from pyspark.sql import types as T

    if HAVE_USER_AGENTS and prefer_wrapper:

        def _one(v):
            if v is None or v in ("", "-"):
                return ("Unknown", "Unknown")
            parsed = _user_agents.parse(v)
            return (parsed.browser.family, parsed.os.family)

    else:

        def _one(v):
            return (uap.parse_browser_family(v), uap.parse_os_family(v))

    # Real traffic repeats a few thousand distinct UA strings across
    # millions of rows; memoizing turns the per-row regex walk into a
    # dict hit for repeats. A plain dict closure, NOT functools
    # lru_cache: the wrapper pickles by qualname and cannot ship to
    # executors from a local scope. The dict pickles empty with the
    # stage function and fills per Python worker; the size guard
    # bounds worker memory against adversarial all-distinct streams.
    _cache: dict = {}

    def one(v):
        hit = _cache.get(v)
        if hit is None:
            hit = _one(v)
            if len(_cache) < 65536:
                _cache[v] = hit
        return hit

    names = frame.columns
    schema = T.StructType(
        list(frame.schema.fields)
        + [
            T.StructField(browser_col, T.StringType()),
            T.StructField(os_col, T.StringType()),
        ]
    )

    def _classify(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pairs = pdf[ua_col].map(one)
            out = {n: pdf[n].reset_index(drop=True) for n in names}
            out[browser_col] = pairs.map(lambda t: t[0]).reset_index(drop=True)
            out[os_col] = pairs.map(lambda t: t[1]).reset_index(drop=True)
            yield pd.DataFrame(out)

    return frame.mapInPandas(_classify, schema=schema)


def classify_ua_join(
    df,
    ua_col: str = "user_agent_full",
    browser_col: str = "ua_browser_family",
    os_col: str = "ua_os_family",
    prefer_wrapper: bool = False,
):
    """Fill `browser_col`/`os_col` by classifying the DISTINCT agent
    strings and broadcast-joining the result back — the dimension-ize
    shape for the classic log-data skew where distinct UA strings are
    thousands against millions-to-billions of rows.

    Why this exists next to the CASE-ladder expression: the ladder is
    the right in-plan form for a one-shot batch scan (zero Python,
    whole-stage codegen), but it evaluates up to ~300 regexes PER ROW
    on late-matching agents and its ~600-arm expression tree is
    re-analyzed per micro-batch under Structured Streaming. Here the
    regex walk runs once per DISTINCT agent (Arrow-batched evaluator,
    exact uap-core semantics — same database, certified equal to the
    ladder by the ua_classify gate) and the per-row cost collapses to
    a broadcast hash probe. Rows with a NULL agent take the ladder's
    blank-sentinel mapping ("Unknown") via the post-join coalesce.

    Batch DataFrames only (distinct over an unbounded stream is a
    stateful op with different semantics): call it inside
    foreachBatch for streaming — streaming/ingest.py does.
    """
    from pyspark.sql import functions as F

    if df.isStreaming:
        raise ValueError(
            "classify_ua_join needs a batch DataFrame; for streams "
            "apply it per micro-batch inside foreachBatch"
        )
    lookup = classify_ua_rows(
        df.select(ua_col).where(F.col(ua_col).isNotNull()).distinct(),
        ua_col,
        "__ua_browser",
        "__ua_os",
        prefer_wrapper,
    )
    cols = df.columns
    return (
        df.join(F.broadcast(lookup), on=ua_col, how="left")
        .withColumn(
            browser_col, F.coalesce("__ua_browser", F.lit("Unknown"))
        )
        .withColumn(os_col, F.coalesce("__ua_os", F.lit("Unknown")))
        .select(*cols)
    )

