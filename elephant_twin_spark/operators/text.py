"""Full-text index — the Lucene-module analog (T1-T8), no Lucene.

The reference builds sharded Lucene inverted indexes with MR jobs
(lucene/indexing/AbstractLuceneIndexingJob.java) and serves
count / top-N / random-sample / field-retrieval through an
``IndexSearcher`` over HDFS (lucene/retrieval/HDFSQueryEngine.java:44-153).
Query scope actually used by the engine surface: single terms composed
with AND/OR (SURVEY §2.7 T5).

Spark-first rebuild: the inverted index is a first-class Parquet
**postings table** ``(term, doc_id, tf, positions)`` built with
``posexplode(split(...))`` + groupBy — one shuffle, map-side combined —
range-partitioned by term so a term lookup touches ~1 of N index files
(footer min/max + bloom). Search is DataFrame algebra:

- term lookup        = filtered postings read               (S6 analog)
- AND / OR           = per-doc matched-term-set evaluation  (I1/I2 analog)
- count              = ``.count()`` with the reference's 1M cap (A3)
- top-N              = TF score desc + doc_id tiebreak → ``limit`` (O4)
- random sample      = ``orderBy(rand(seed)).limit(n)``     (O5/T7)
- field retrieval    = join doc ids back to the stored table (T6)

Analyzer: whitespace tokenization by default, matching the reference's
``WhitespaceAnalyzer`` default (lucene/indexing/AbstractLuceneIndexingJob.java:79-83),
pluggable as any ``Column -> Column(array<string>)`` function (T1).
Scoring is TF-based per SURVEY §7.5 — deterministic, no Lucene-score parity.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, List, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from elephant_twin_spark.sources import catalog, fsio

# Lucene count cap (lucene/retrieval/HDFSQueryEngine.java:47)
MAX_HITS = 1_000_000
DEFAULT_NUM_BUCKETS = 16

Tokenizer = Callable[[Column], Column]


def whitespace_tokenizer(text: Column) -> Column:
    """Whitespace analyzer: split on runs of whitespace, drop empties.

    Contract: JAVA-regex ``\\s`` semantics — ``[ \\t\\n\\x0B\\f\\r]``.
    This is the one place the engine and its DuckDB validation twins
    can disagree: RE2's ``\\s`` omits VERTICAL TAB (\\x0B), so a corpus
    containing it tokenizes differently under ``regexp_split_to_array``.
    Parity on ASCII-whitespace corpora is exact; the known dialect
    deltas are pinned in tests/test_r12_regex_parity.py.

    Implementation (r16 optimization): ``regexp_extract_all('\\S+')``
    — the exact complement-class restatement of "split on \\s+ runs,
    drop empties" (bit-identical arrays, pinned corpus-wide and on
    adversarial whitespace in tests/test_r16_optimization.py). The
    previous ``filter(split(text, '\\s+'), ...)`` form paid a
    ``Pattern.compile`` PER ROW (``UTF8String.split`` →
    ``String.split``, whose fast path only covers single-char literal
    separators) plus an interpreted higher-order filter per token;
    RegExpExtractAll caches the compiled pattern across rows and needs
    no post-filter. Measured 1.7x faster on the sf0.1 corpus and it
    removes the hottest per-row regex-compile site every text operator
    (shingles, postings, simhash, textstats, vocab) sits on."""
    return F.regexp_extract_all(text, F.lit(r"\S+"), 0)


def lowercase_tokenizer(text: Column) -> Column:
    """Whitespace + lowercase — the standard-analyzer-ish variant."""
    return whitespace_tokenizer(F.lower(text))


def word_tokenizer(text: Column) -> Column:
    """Regex analyzer: lowercase, split on any non-letter/digit run —
    the StandardAnalyzer-ish entry of the pluggable-analyzer contract
    (T1, lucene/indexing/AbstractLuceneIndexingJob.java:79-83: the
    reference accepts any analyzer class by name).

    Implemented as ``regexp_extract_all('[\\p{L}\\p{N}]+')`` — the
    complement-class restatement of "split on non-letter/digit runs,
    drop empties" (same r16 rewrite as :func:`whitespace_tokenizer`:
    identical arrays, no per-row ``Pattern.compile``, no interpreted
    post-filter; equivalence pinned in tests/test_r16_optimization.py)."""
    return F.regexp_extract_all(F.lower(text), F.lit(r"[\p{L}\p{N}]+"), 0)


# Light English suffix-stripper (S-stemmer-style), applied RULE BY RULE in
# order on both the build side (SQL regexp_replace fold) and the query
# side (re.sub fold in _analyze_term) so the two can never disagree.
# Replacements use Java's $1 syntax; the Python mirror rewrites to \1.
_STEM_RULES = [
    ("sses$", "ss"),
    ("([xz]|ch|sh)es$", "$1"),
    ("ies$", "y"),
    ("([^su])s$", "$1"),
    ("(.{3,})ing$", "$1"),
    ("(.{3,})ed$", "$1"),
    ("(.{3,})ly$", "$1"),
]


def english_stem_tokenizer(text: Column) -> Column:
    """``word_tokenizer`` + light English suffix stripping — the
    stemming-analyzer entry (T1). Deliberately a small deterministic
    rule table, not Porter: cross-engine reproducibility (and the exact
    Python mirror for query terms) beats linguistic completeness here."""

    def stem(t: Column) -> Column:
        for pat, repl in _STEM_RULES:
            t = F.regexp_replace(t, pat, repl)
        return t

    return F.transform(word_tokenizer(text), stem)


def _split_letters_numbers(s: str) -> List[str]:
    """Exact Python twin of the build side's Java ``[^\\p{L}\\p{N}]+``
    split: keep runs of Unicode letters/numbers (general categories L*
    and N*), split on everything else — including underscore and
    combining marks (category M), which Python's ``\\w`` would keep and
    thereby drift from the JVM tokenizer on NFD-decomposed text."""
    import unicodedata as _ud

    out: List[str] = []
    cur: List[str] = []
    for ch in s:
        if _ud.category(ch)[0] in ("L", "N"):
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


def _analyze_term(name: str, term: str) -> List[str]:
    """Query-side analysis mirror: a query term goes through the SAME
    normalization its index's tokenizer applied to document terms —
    including the token SPLIT, so ``State-of-the-art`` analyzes to
    ``[state, of, the, art]`` under the ``word`` analyzer, never to a
    fused ``stateoftheart`` no document contains. The split uses
    :func:`_split_letters_numbers` so build/query tokenization agree
    character-for-character on Unicode category semantics."""
    import re as _re

    if name == "whitespace":
        return [term]
    term = term.lower()
    if name == "lowercase":
        return [term]
    toks = _split_letters_numbers(term)
    if name == "english_stem":
        out = []
        for t in toks:
            for pat, repl in _STEM_RULES:
                t = _re.sub(pat, repl.replace("$1", "\\1"), t)
            out.append(t)
        toks = out
    return toks


def _as_term_or_phrase(toks: List[str]):
    """A query term whose analysis yields several tokens becomes an exact
    phrase over them (Lucene's multi-token-term default); one that
    analyzes to nothing becomes an unmatchable term (tokenizers never
    emit the empty string)."""
    if not toks:
        return _Term("")
    if len(toks) == 1:
        return _Term(toks[0])
    return _Phrase(toks, 0)


def _analyze_node(node, name: str):
    """Rewrite every leaf of a parsed query through :func:`_analyze_term`
    (prefix/wildcard patterns only fold case — stemming a pattern is
    undefined, matching Lucene's analyzer-bypass for those leaves)."""
    if name == "whitespace":
        return node
    if isinstance(node, _Term):
        return _as_term_or_phrase(_analyze_term(name, node.term))
    if isinstance(node, _Phrase):
        flat = [t for term in node.terms for t in _analyze_term(name, term)]
        return _as_term_or_phrase(flat) if node.slop == 0 else _Phrase(flat, node.slop)
    if isinstance(node, _Prefix):
        return _Prefix(node.prefix.lower())
    if isinstance(node, _Wildcard):
        return _Wildcard(node.pattern.lower())
    if isinstance(node, _Fuzzy):
        return _Fuzzy(node.term.lower(), node.max_edits)
    if isinstance(node, _Not):
        return _Not(_analyze_node(node.child, name))
    return _Bool(node.op, [_analyze_node(p, name) for p in node.parts])


# --------------------------------------------------------------------- build

def postings_for(
    df: DataFrame,
    text_column: str,
    doc_id_column: str,
    tokenizer: Tokenizer = whitespace_tokenizer,
) -> DataFrame:
    """``(term, doc_id, tf, positions, file)`` — one row per (term, doc);
    ``file`` is the doc's source file, carried so incremental refresh can
    drop a changed file's postings without a doc→file side table.

    If the source has fewer partitions than cores (e.g. one big file),
    fan out before the per-row expansion so tokenization parallelizes —
    the grouping multiplies work per row ~100×, so starting
    single-threaded wastes the cluster.

    Shape (r16 optimization): the ``(term, doc_id)`` grouping of a
    postings row is PER-DOCUMENT — every group lives inside one input
    row — so the old posexplode → ``groupBy(term, doc_id)`` paid a
    corpus-tokens exchange (plus an ObjectHashAggregate building
    ``collect_list`` buffers) for an aggregation that never needed to
    leave its row. Row-local restatement: sort the (term, pos) pairs
    within the row, take run starts (distinct term, tf, ascending
    positions in one linear scan), explode the per-doc groups. The
    postings relation is now NARROW above the scan — the only exchange
    left in a text-index build is the range partitioner of the write
    (2 Exchange → 1, plans/r16/build_text_index_docs_postings_*.txt);
    rows are bit-identical (``positions`` ascending either way; pinned
    in tests/test_r16_optimization.py). Measured 1.7× on the sf0.01
    postings subplan, noop sink; re-anchored r17 (interleaved
    single-JVM A/B, OPTIMIZATION_r17.md): old groupBy 5.2-7.5 JVM-CPU-s
    vs row-local 2.8-3.7 at sf0.1, 19-21 vs 7.5-12.5 on a long-doc
    fixture — the r16 driver wall regression on this key was run noise.

    Precondition (r16 advisor): ``doc_id_column`` must be unique per
    input row — the old groupBy silently merged duplicate-id rows'
    tokens into one posting; the row-local shape emits per-row
    postings. Identical outputs under the unique-id contract every
    caller here already holds.
    """
    from elephant_twin_spark.operators import layout

    # resolve the metadata column before any repartition (it only
    # resolves directly over the file-source relation)
    src = df.select(
        F.col(doc_id_column).alias("doc_id"),
        F.col(text_column).alias("_text"),
        fsio.file_path_col(F.col("_metadata.file_path")).alias("file"),
    )
    src = layout.fan_out(src)
    g = src.select(
        "doc_id",
        "file",
        F.explode(_rowlocal_postings_groups(tokenizer(F.col("_text")))).alias("g"),
    )
    return g.select(
        F.col("g.term").alias("term"),
        "doc_id",
        F.col("g.tf").alias("tf"),
        F.col("g.positions").alias("positions"),
        "file",
    )


def _rowlocal_postings_groups(toks: Column) -> Column:
    """``array<struct<term, tf, positions>>`` of the row's distinct
    terms — the per-document postings groups, computed without any
    shuffle. Empty/null token arrays yield NULL (explode drops them,
    matching the old posexplode semantics). ``sequence(1, n)`` is only
    reached under ``size(toks) > 0`` — ``sequence(1, 0)`` would count
    DOWN ([1, 0]) and index the array at 0.

    Intermediates (sorted pair array, run starts) are LET-BOUND via
    single-element ``transform(array(x), v -> ...)``: chained selects
    would be collapsed by Catalyst into the lambda bodies and
    re-evaluated per element (see ``dedup._rowlocal_simhash``)."""

    def with_sp(sp: Column) -> Column:
        n = F.size(sp)

        def with_starts(starts: Column) -> Column:
            ends = F.concat(F.slice(starts, 2, F.size(starts) - 1), F.array(n + 1))
            return F.zip_with(
                starts,
                ends,
                lambda s, e: F.struct(
                    F.element_at(sp, s)["term"].alias("term"),
                    (e - s).cast("int").alias("tf"),
                    F.transform(
                        F.sequence(s, e - 1), lambda x: F.element_at(sp, x)["pos"]
                    ).alias("positions"),
                ),
            )

        starts_expr = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (i == F.lit(1))
            | (F.element_at(sp, i)["term"] != F.element_at(sp, i - 1)["term"]),
        )
        return F.element_at(F.transform(F.array(starts_expr), with_starts), 1)

    pairs = F.zip_with(
        toks,
        F.sequence(F.lit(0), F.size(toks) - 1),
        lambda t, i: F.struct(t.alias("term"), i.alias("pos")),
    )
    return F.when(
        F.size(toks) > 0,
        F.element_at(F.transform(F.array(F.array_sort(pairs)), with_sp), 1),
    )


def doclens_agg(tf_df: DataFrame) -> DataFrame:
    """``(doc_id, dl, norm, file)`` from a per-(doc, term) ``tf`` table —
    the ONE place the BM25 length + SMART 'lnc' cosine norm
    (``sqrt(Σ (1+ln tf)²)``) formula lives, shared by the full build
    (which feeds it the just-written postings) and the incremental
    refresh delta path (:func:`doclens_for`), so the two can never
    drift."""
    w = F.lit(1.0) + F.log(F.col("tf"))
    return tf_df.groupBy("doc_id").agg(
        F.sum("tf").cast("int").alias("dl"),
        F.sqrt(F.sum(w * w)).alias("norm"),
        F.first("file").alias("file"),
    )


def doclens_for(
    df: DataFrame,
    text_column: str,
    doc_id_column: str,
    tokenizer: Tokenizer = whitespace_tokenizer,
) -> DataFrame:
    """``(doc_id, dl, norm, file)`` — token count (BM25 length norm) and
    lnc cosine norm per doc, computed from the doc's own tokens only (no
    corpus statistics → refreshable file-by-file).

    Shape (r16 optimization, same class as :func:`postings_for`): the
    ``(doc_id, term)`` tf grouping is per-document, so the old
    explode_outer → ``groupBy(doc_id, term)`` paid a delta-tokens
    exchange for row-local work. The tf table is now built row-locally
    (:func:`_rowlocal_postings_groups`) and only the doc-sized
    ``groupBy(doc_id)`` of :func:`doclens_agg` shuffles — 2 Exchange →
    1, and the formula still lives only in ``doclens_agg``. Token-less
    and NULL-text docs keep explode_outer semantics (``g`` NULL →
    tf 0 → dl 0 / norm NULL) via the coalesce below.

    Precondition (r16 advisor): ``doc_id_column`` unique per input row
    — duplicate-id rows would no longer have their tfs merged before
    the log-weighted norm fold (see :func:`postings_for`)."""
    src = df.select(
        F.col(doc_id_column).alias("doc_id"),
        fsio.file_path_col(F.col("_metadata.file_path")).alias("file"),
        F.explode_outer(
            _rowlocal_postings_groups(tokenizer(F.col(text_column)))
        ).alias("g"),
    )
    tf = src.select(
        "doc_id",
        F.coalesce(F.col("g.tf"), F.lit(0)).cast("int").alias("tf"),
        "file",
    )
    return doclens_agg(tf)


def build_text_index(
    spark: SparkSession,
    table_path: str,
    text_column: str,
    doc_id_column: str,
    index_root: str,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    tokenizer: Optional[Tokenizer] = None,
    tokenizer_name: str = "whitespace",
) -> str:
    """Build the postings table + descriptor; returns the index dir.

    ``tokenizer_name`` selects from the analyzer registry (whitespace,
    lowercase, word, english_stem — the pluggable-analyzer contract, T1);
    passing ``tokenizer`` overrides with a custom callable (its name is
    still recorded so query-side analysis can be matched by the caller).

    The reference's shard-parallel build (#reducers = #shards, T8) maps to
    ``repartitionByRange(num_buckets, term)``; ``forceMerge(1)`` and the
    local-then-copy staging disappear (Parquet writes are already atomic
    per task and compact)."""
    if tokenizer is None:
        try:
            tokenizer = _TOKENIZERS[tokenizer_name]
        except KeyError:
            raise ValueError(
                f"unknown tokenizer {tokenizer_name!r}; registry has "
                f"{sorted(_TOKENIZERS)}"
            ) from None
    idx_dir = catalog.index_dir(index_root, table_path, text_column, kind="text")
    # pre-listing: see build.build_block_index (mid-build file-add race)
    files = fsio.list_data_files(spark, table_path)
    df = fsio.read_parquet(spark, table_path, stats=files)
    postings = postings_for(df, text_column, doc_id_column, tokenizer)
    # Pin the aggregated postings once: the range-partitioned write's
    # boundary sampling, the write itself, AND the doclens derivation
    # below all read the same materialized blocks, so the corpus is
    # tokenized + aggregated exactly once per build (previously the
    # sampling job re-ran the reduce-side aggregate and doclens re-read
    # the written parquet). Released before returning.
    from elephant_twin_spark.operators import build as build_mod

    postings_dir, lens_dir = f"{idx_dir}/postings", f"{idx_dir}/doclens"

    def _span(src: DataFrame) -> None:
        # Stage both data dirs, publish both back-to-back at the end of
        # the span (see build.build_block_index: mid-rebuild reader
        # race) — publishing postings before doclens are even computed
        # would hand a concurrent BM25 reader new postings with OLD
        # doclens for seconds; the paired publish shrinks that to two
        # metadata renames.
        build_mod.write_range_partitioned(
            src, num_buckets, "term", ("term", "doc_id"),
            fsio.staged_dir(postings_dir), bloom_col="term", pin_input=False,
        )
        # doc-length norms for BM25 (the Lucene "norms" analog, T2) plus
        # the SMART lnc cosine norm for more_like_this: tiny table (one
        # row per doc) + corpus stats in the descriptor. The lnc norm
        # (1+ln tf, idf-free) is deliberately corpus-independent so
        # per-file incremental refresh never invalidates other files'
        # rows; ``file`` is carried for exactly that kept/delta
        # maintenance. Token-less docs (absent from postings) are
        # restored by an id anti-join with dl=0/norm NULL, matching
        # doclens_for's explode_outer semantics (that function still
        # serves the incremental-refresh delta path).
        doclens = doclens_agg(src)
        src_ids = df.select(
            F.col(doc_id_column).alias("doc_id"),
            fsio.file_path_col(F.col("_metadata.file_path")).alias("file"),
        )
        tokenless = src_ids.join(
            doclens.select("doc_id"), "doc_id", "left_anti"
        ).select(
            "doc_id",
            F.lit(0).cast("int").alias("dl"),
            F.lit(None).cast("double").alias("norm"),
            "file",
        )
        out = doclens.select("doc_id", "dl", "norm", "file").unionByName(tokenless)
        out.coalesce(max(1, num_buckets // 4)).write.mode("overwrite").parquet(
            fsio.staged_dir(lens_dir)
        )
        # one shared pair epoch across both renames (r12 advisor): a
        # crash between them left new postings with OLD BM25 norms
        # undetected; readers of the pair now cross-check the markers
        # takeover fence (closure reads lease_owner bound by the
        # with-statement below before run_pinned_with_retry runs us);
        # liveness during the staged write comes from the lease scope's
        # heartbeat (r15, fsio.build_lease)
        fsio.fence_and_publish(spark, idx_dir, lease_owner, [postings_dir, lens_dir])

    # Pin the postings once for the whole span (both writes are
    # mode("overwrite"), so the span is retry-idempotent); the shared
    # scaffold handles lost-checkpoint-block fallback and the
    # release-without-masking discipline (r8 advisor — this caller
    # pins itself, so it needs the same retry as the pin_input=True
    # path inside write_range_partitioned). Build lease around the
    # whole staged-write + publish + descriptor span: see
    # build.build_block_index (r13 verdict item 4 — interleaved
    # pair-builders could otherwise publish halves of different epochs).
    with fsio.build_lease(spark, idx_dir) as lease_owner:
        build_mod.run_pinned_with_retry(postings, _span)
        desc = catalog.make_descriptor(
            source_path=table_path,
            column=text_column,
            index_type="TEXT",
            num_buckets=num_buckets,
            files=files,
            options={
                "doc_id_column": doc_id_column,
                "tokenizer": tokenizer_name,
                **corpus_stats(spark, lens_dir),
            },
        )
        catalog.write_descriptor(spark, idx_dir, desc)
    return idx_dir


def corpus_stats(spark: SparkSession, lens_dir: str) -> dict:
    """Descriptor options ``n_docs`` and ``avgdl`` of a published doclens
    table. Read from the written table, not the doclens lineage:
    re-evaluating the lineage would re-tokenize the corpus."""
    stats = fsio.read_parquet(spark, lens_dir).agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).first()
    return {"n_docs": str(stats["n"]), "avgdl": str(float(stats["avgdl"] or 0.0))}


# --------------------------------------------------------------------- query

@dataclass
class _Term:
    term: str


@dataclass
class _Phrase:
    terms: List[str]
    slop: int = 0


@dataclass
class _Prefix:
    """``pre*`` — Lucene prefix query. The fast multi-term case: the
    pushdown is a ``StartsWith`` that parquet serves from the
    range-partitioned term column's footer min/max."""

    prefix: str


@dataclass
class _Wildcard:
    """``w?ld*card`` — ``*`` = any run, ``?`` = one char. Pushdown is the
    literal prefix up to the first wildcard (may be empty → full postings
    term scan, same as Lucene's leading-wildcard caveat)."""

    pattern: str


@dataclass
class _Fuzzy:
    """``term~N`` — Levenshtein distance ≤ N (Lucene fuzzy; default 2).
    Evaluated JVM-side with ``F.levenshtein`` under a length-band
    pre-filter; like Lucene's automaton walk this enumerates the term
    dictionary, so cost is one postings term-column scan."""

    term: str
    max_edits: int = 2


@dataclass
class _Not:
    """Negation — valid only alongside at least one positive clause (a
    pure-negative query has no postings to enumerate docs from)."""

    child: object


@dataclass
class _Bool:
    op: str  # 'AND' | 'OR'
    parts: List


def parse_query(q: str):
    """Tiny Lucene-subset parser: bare terms, ``"quoted phrases"``
    (with ``~N`` window proximity), ``pre*`` prefix, ``w?ld*`` wildcard,
    ``term~N`` fuzzy, and ``NOT`` — composed with AND/OR connectives,
    parentheses allowed; adjacent clauses default to OR (Lucene's
    default operator). Covers the surface the reference demo exercises
    (lucene/retrieval/HDFSRetrievalDemo.java:76) plus the multi-term
    query kinds Lucene's QueryParser accepts in principle (SURVEY §2.7
    T5 "supports the full Lucene query syntax in principle")."""
    import re as _re

    tokens = _re.findall(r'"[^"]*"|\(|\)|[^\s()"]+', q)
    pos = 0

    def peek():
        return tokens[pos] if pos < len(tokens) else None

    def take():
        nonlocal pos
        t = tokens[pos]
        pos += 1
        return t

    def bare_term(t: str):
        m = _re.fullmatch(r"(.+?)~(\d*)", t)
        if m:
            return _Fuzzy(m.group(1), int(m.group(2)) if m.group(2) else 2)
        if "*" in t or "?" in t:
            if _re.fullmatch(r"[^*?]+\*", t):
                return _Prefix(t[:-1])
            return _Wildcard(t)
        return _Term(t)

    def atom():
        t = take()
        if t == "(":
            node = or_expr()
            if peek() == ")":
                take()
            return node
        if t == "NOT":
            return _Not(atom())
        if t.startswith('"') and t.endswith('"') and len(t) >= 2:
            terms = t[1:-1].split()
            if not terms:
                raise ValueError("empty phrase")
            slop = 0
            if peek() is not None and peek().startswith("~"):
                slop = int(take()[1:])
            if len(terms) == 1 and slop == 0:
                return _Term(terms[0])
            return _Phrase(terms, slop)
        return bare_term(t)

    def and_expr():
        parts = [atom()]
        while peek() == "AND":
            take()
            parts.append(atom())
        return parts[0] if len(parts) == 1 else _Bool("AND", parts)

    def or_expr():
        parts = [and_expr()]
        while peek() is not None and peek() != ")":
            if peek() == "OR":
                take()
            parts.append(and_expr())
        return parts[0] if len(parts) == 1 else _Bool("OR", parts)

    if not tokens:
        raise ValueError("empty query")
    return or_expr()


def _query_terms(node) -> List[str]:
    if isinstance(node, _Term):
        return [node.term]
    if isinstance(node, _Phrase):
        return list(node.terms)
    if isinstance(node, (_Prefix, _Wildcard, _Fuzzy)):
        return []
    if isinstance(node, _Not):
        return _query_terms(node.child)
    return [t for p in node.parts for t in _query_terms(p)]


def _has_phrase(node) -> bool:
    if isinstance(node, _Phrase):
        return True
    if isinstance(node, _Not):
        return _has_phrase(node.child)
    if isinstance(node, _Bool):
        return any(_has_phrase(p) for p in node.parts)
    return False


def _is_positive(node) -> bool:
    """A query is servable only if every doc it matches carries at least
    one pruned-postings term — i.e. no branch matches docs purely by
    absence. AND needs one positive conjunct; OR needs all."""
    if isinstance(node, _Not):
        return False
    if isinstance(node, _Bool):
        parts = [_is_positive(p) for p in node.parts]
        return any(parts) if node.op == "AND" else all(parts)
    return True


def _wildcard_regex(pattern: str) -> str:
    import re as _re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def _literal_prefix(pattern: str) -> str:
    for i, ch in enumerate(pattern):
        if ch in "*?":
            return pattern[:i]
    return pattern


def _term_predicate(node, term: Column) -> Optional[Column]:
    """Predicate over a single term column for one leaf; None for
    non-leaf handling. Exact/prefix forms push to the parquet term scan
    (In / StringStartsWith reach the footer stats + bloom); wildcard and
    fuzzy evaluate JVM-side after the prefix/length pre-filters."""
    if isinstance(node, _Term):
        return term == F.lit(node.term)
    if isinstance(node, _Phrase):
        return term.isin(list(node.terms))
    if isinstance(node, _Prefix):
        return term.startswith(node.prefix)
    if isinstance(node, _Wildcard):
        pre = _literal_prefix(node.pattern)
        cond = term.rlike(_wildcard_regex(node.pattern))
        return (term.startswith(pre) & cond) if pre else cond
    if isinstance(node, _Fuzzy):
        k, n = node.max_edits, len(node.term)
        return (
            F.length(term).between(n - k, n + k)
            & (F.levenshtein(term, F.lit(node.term)) <= k)
        )
    return None


def _prune_predicate(node, term: Column) -> Column:
    """OR over all leaves (negated leaves included: the per-doc matched
    set must EXPOSE a negated term's presence for NOT to exclude it)."""
    leaf = _term_predicate(node, term)
    if leaf is not None:
        return leaf
    if isinstance(node, _Not):
        return _prune_predicate(node.child, term)
    out = _prune_predicate(node.parts[0], term)
    for p in node.parts[1:]:
        out = out | _prune_predicate(p, term)
    return out


def _phrase_match(terms: List[str], pos_col: Column, slop: int = 0) -> Column:
    """True when some position p of terms[0] has terms[i] at p+i for all
    i — evaluated entirely JVM-side with higher-order array functions
    over the per-doc term→positions map (no UDF).

    ``slop > 0`` relaxes each expected offset to the window
    ``[p+i-slop, p+i+slop]`` (simple window proximity, documented as such
    — NOT Lucene's edit-distance slop)."""

    def positions(t: str) -> Column:
        return F.coalesce(pos_col[t], F.array().cast("array<int>"))

    def _near(p: Column, i: int):
        # single-arg lambda via closure (PySpark reads the lambda's arity
        # from its signature, so default-arg captures would mis-bind)
        return lambda q: (q >= p + i - slop) & (q <= p + i + slop)

    def at(p: Column) -> Column:
        cond = F.lit(True)
        for i, t in enumerate(terms[1:], start=1):
            if slop == 0:
                cond = cond & F.array_contains(positions(t), p + i)
            else:
                cond = cond & F.exists(positions(t), _near(p, i))
        return cond

    return F.exists(positions(terms[0]), at)


def _match_column(node, terms_col: Column, pos_col: Optional[Column] = None) -> Column:
    if isinstance(node, _Term):
        return F.array_contains(terms_col, node.term)
    if isinstance(node, _Phrase):
        if pos_col is None:
            raise ValueError("phrase query requires positional postings")
        return _phrase_match(node.terms, pos_col, node.slop)
    if isinstance(node, (_Prefix, _Wildcard, _Fuzzy)):
        return F.exists(terms_col, lambda t: _term_predicate(node, t))
    if isinstance(node, _Not):
        return ~_match_column(node.child, terms_col, pos_col)
    parts = [_match_column(p, terms_col, pos_col) for p in node.parts]
    out = parts[0]
    for p in parts[1:]:
        out = (out & p) if node.op == "AND" else (out | p)
    return out


def file_value_sets(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """T3/A4 split-document analog: one row per source FILE with the
    distinct value set of each column — the reference's "cheater's
    block-level index" where a Lucene doc represents a whole split
    (lucene/indexing/HadoopSplitDocument.java:31-40,
    HadoopSplitIndexingMapper.java:44-107). ``(file, <col>_values...)``.

    A lookup "which files contain value v in column c" is then
    ``where(array_contains(c_values, v))`` — file-granularity pruning
    from a table whose row count is the FILE count, not the row count.

    Precondition: every file has ONE raw ``_metadata.file_path``
    spelling in ``df`` — in practice, ``df`` is a single scan (see
    :func:`elephant_twin_spark.operators.build.postings_for`).
    """
    aggs = [F.sort_array(F.collect_set(c)).alias(f"{c}_values") for c in columns]
    return (
        df.select(
            # raw path grouped, canonicalized once per output file row
            # (r17): file_path_col's regex+decode is constant per file,
            # so it runs per group, not per input row (see
            # build.postings_for)
            F.col("_metadata.file_path").alias("_rawfile"),
            *columns,
        )
        .groupBy("_rawfile")
        .agg(*aggs)
        .select(
            fsio.file_path_col(F.col("_rawfile")).alias("file"),
            *[f"{c}_values" for c in columns],
        )
    )


def files_containing(value_sets: DataFrame, column: str, value) -> DataFrame:
    """Split-doc lookup: files whose value set for ``column`` contains
    ``value`` (T3 query side)."""
    return value_sets.where(F.array_contains(F.col(f"{column}_values"), value)).select("file")


_TOKENIZERS = {
    "whitespace": whitespace_tokenizer,
    "lowercase": lowercase_tokenizer,
    "word": word_tokenizer,
    "english_stem": english_stem_tokenizer,
}


class TextIndex:
    """Query handle over a built text index (HDFSQueryEngine analog).

    FRESH-HANDLE CONTRACT: the handle snapshots the descriptor (corpus
    stats n_docs/avgdl included) and checks the postings/doclens pair
    epochs once; after a rebuild/refresh construct a new handle or call
    :meth:`revalidate` (see ``AnnIndex`` — same rationale)."""

    def __init__(self, spark: SparkSession, table_path: str, text_column: str, index_root: str):
        self.spark = spark
        self.table_path = table_path
        self.text_column = text_column
        self.idx_dir = catalog.index_dir(index_root, table_path, text_column, kind="text")
        self.desc = catalog.read_descriptor(spark, self.idx_dir)
        if self.desc is None:
            raise FileNotFoundError(f"no text index at {self.idx_dir}; build_text_index first")
        self.doc_id_column = self.desc.options["doc_id_column"]

    def revalidate(self) -> "TextIndex":
        """Re-read the descriptor and re-arm the pair-epoch gate so the
        next call observes the current published generation."""
        self.desc = catalog.read_descriptor(self.spark, self.idx_dir)
        if self.desc is None:
            raise FileNotFoundError(
                f"no text index at {self.idx_dir}; build_text_index first"
            )
        self.doc_id_column = self.desc.options["doc_id_column"]
        self._pair_ok = False
        return self

    def postings(self) -> DataFrame:
        return fsio.read_parquet(self.spark, f"{self.idx_dir}/postings")

    def doclens(self) -> DataFrame:
        # every doclens consumer (BM25 norms, more_like_this) pairs them
        # with postings from the SAME build/refresh generation — the
        # epoch cross-check turns the crashed-between-renames state from
        # silently-skewed scores into a named, recoverable error.
        # Checked ONCE per handle (the handle already snapshots the
        # descriptor; a new handle — the way callers react to a
        # rebuild — re-checks; see AnnIndex._ensure_pair)
        if not getattr(self, "_pair_ok", False):
            fsio.require_pair_published(
                self.spark,
                [f"{self.idx_dir}/postings", f"{self.idx_dir}/doclens"],
            )
            self._pair_ok = True
        return fsio.read_parquet(self.spark, f"{self.idx_dir}/doclens")

    def matches(self, query: Union[str, object], scoring: str = "tf") -> DataFrame:
        """``(doc_id, score)`` for all docs matching the boolean query.
        One bucket-pruned postings read for ALL query terms (multi-term
        expansions — prefix/wildcard/fuzzy — are predicates on the term
        column of that same read), then a per-doc matched-set evaluation
        (no join per term, no driver-side data).

        Score sums contributions of every query-matched term present in
        the doc (for expansions: every term the pattern matched) —
        deterministic, documented as engine semantics rather than
        Lucene-score parity (SURVEY §7.5).

        ``scoring``:
        - ``"tf"``  — sum of term frequencies (deterministic, cheap);
        - ``"bm25"`` — Okapi BM25 (k1=1.2, b=0.75): per-term idf from the
          pruned postings themselves, doc-length norms from the
          ``doclens`` table built alongside the index (the Lucene
          similarity/norms analog, SURVEY §2.7 T2).
        """
        node = parse_query(query) if isinstance(query, str) else query
        node = _analyze_node(node, self.desc.options.get("tokenizer", "whitespace"))
        if not _is_positive(node):
            raise ValueError(
                "pure-negative query: docs matching only by absence of a "
                "term are not enumerable from postings (Lucene has the "
                "same restriction); add a positive clause"
            )
        pruned = self.postings().where(_prune_predicate(node, F.col("term")))

        if scoring == "bm25":
            n_docs = int(self.desc.options.get("n_docs", "0"))
            avgdl = float(self.desc.options.get("avgdl", "0") or 0) or 1.0
            k1, b = 1.2, 0.75
            from pyspark.sql.window import Window

            df_w = Window.partitionBy("term")
            w = pruned.withColumn("_df", F.count(F.lit(1)).over(df_w))
            idf = F.log(
                1.0
                + (F.lit(float(n_docs)) - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
            )
            w = w.join(self.doclens(), "doc_id", "inner")
            tfn = (F.col("tf") * (k1 + 1)) / (
                F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))
            )
            pruned = w.withColumn("_contrib", idf * tfn)
            score_agg = F.round(F.sum("_contrib"), 6).alias("score")
        elif scoring == "tf":
            score_agg = F.sum("tf").cast("long").alias("score")
        else:
            raise ValueError(f"unknown scoring {scoring!r}")

        aggs = [F.collect_set("term").alias("_terms"), score_agg]
        phrased = _has_phrase(node)
        if phrased:
            # per-doc term → positions map, only when a phrase needs it
            # (collect_list is bounded: ≤ len(terms) entries per doc)
            aggs.append(
                F.map_from_entries(
                    F.collect_list(F.struct("term", "positions"))
                ).alias("_pos")
            )
        hits = pruned.groupBy("doc_id").agg(*aggs)
        match = _match_column(node, F.col("_terms"), F.col("_pos") if phrased else None)
        return hits.where(match).select("doc_id", "score")

    def count(self, query: str) -> int:
        """Hit count with the reference's MAX_HITS cap (A3)."""
        n = self.matches(query).limit(MAX_HITS).count()
        return min(n, MAX_HITS)

    def top_n(self, query: str, n: int, scoring: str = "tf") -> DataFrame:
        """Best-n by score (TF or BM25), doc_id as deterministic tiebreak
        (O4)."""
        return (
            self.matches(query, scoring=scoring)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(n)
        )

    def sample(self, query: str, n: int, seed: int = 42) -> DataFrame:
        """Random n hits without replacement (O5/T7) — distributed
        reservoir via rand() ordering instead of the reference's in-memory
        partial Fisher-Yates (HDFSQueryEngine.java:100-153)."""
        return self.matches(query).orderBy(F.rand(seed)).limit(n)

    def more_like_this(
        self,
        doc_id,
        k: int = 10,
        tokenizer: Optional[Tokenizer] = None,
    ) -> DataFrame:
        """Top-k docs most similar to ``doc_id`` by SMART *lnc.ltc*
        cosine — the Lucene MoreLikeThis analog over the postings table.

        Weighting choice is deliberate for incremental maintenance: doc
        vectors are idf-FREE (``1+ln tf``, cosine norm precomputed per
        doc in ``doclens``), the query vector carries the idf
        (``(1+ln tf)·ln(N/df)``, df measured from the same bucket-pruned
        postings read that serves the scores). Corpus growth therefore
        never invalidates stored norms.

        Driver holds only the ONE query doc's term vector (bounded by
        doc length — same contract as the single-key postings lookups).
        """
        import math

        tok = tokenizer or _TOKENIZERS.get(
            self.desc.options.get("tokenizer", "whitespace")
        )
        if tok is None:
            raise ValueError(
                "unknown tokenizer in descriptor; pass tokenizer= explicitly"
            )
        stored = self.spark.read.parquet(self.table_path)
        qtf = (
            stored.where(F.col(self.doc_id_column) == doc_id)
            .select(F.explode(tok(F.col(self.text_column))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("qtf"))
            .collect()
        )
        if not qtf:
            return self.spark.createDataFrame([], "doc_id long, score double")
        qw0 = {r["term"]: 1.0 + math.log(r["qtf"]) for r in qtf}
        terms = sorted(qw0)
        n_docs = float(self.desc.options["n_docs"])

        pruned = (
            self.postings()
            .where(F.col("term").isin(terms))
            .select("term", "doc_id", "tf")
        )
        dfs = {r["term"]: r["df"] for r in
               pruned.groupBy("term").agg(F.count(F.lit(1)).alias("df")).collect()}
        wq = {t: qw0[t] * math.log(n_docs / dfs[t]) for t in terms if t in dfs}
        qnorm = math.sqrt(sum(w * w for w in wq.values())) or 1.0

        wq_map = F.create_map(
            *[x for t, w in sorted(wq.items()) for x in (F.lit(t), F.lit(w))]
        )
        contrib = pruned.where(F.col("term").isin(sorted(wq))).withColumn(
            "_c", wq_map[F.col("term")] * (F.lit(1.0) + F.log("tf"))
        )
        scores = (
            contrib.groupBy("doc_id")
            .agg(F.sum("_c").alias("_dot"))
            .join(self.doclens().select("doc_id", "norm"), "doc_id")
            .where(F.col("doc_id") != F.lit(doc_id))
            .select(
                "doc_id",
                F.round(F.col("_dot") / (F.lit(qnorm) * F.col("norm")), 6).alias(
                    "score"
                ),
            )
        )
        return scores.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)

    def keywords(self, k: int = 5) -> DataFrame:
        """Top-k characteristic terms per doc by TF-IDF
        (``(1+ln tf)·ln(N/df)``, same weighting as more_like_this) —
        ``(doc_id, term, score, rank)``. One postings aggregation for
        the df table (broadcast back) + one windowed top-k per doc."""
        from pyspark.sql.window import Window

        n_docs = float(self.desc.options["n_docs"])
        p = self.postings().select("term", "doc_id", "tf")
        dfreq = p.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
        scored = p.join(F.broadcast(dfreq), "term").select(
            "doc_id",
            "term",
            (
                (F.lit(1.0) + F.log("tf"))
                * F.log(F.lit(n_docs) / F.col("_df"))
            ).alias("score"),
        )
        w = Window.partitionBy("doc_id").orderBy(
            F.col("score").desc(), F.col("term").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("doc_id", "term", "score", "rank")
        )

    def retrieve(
        self,
        query: str,
        fields: Optional[Sequence[str]] = None,
        n: int = 10,
        scoring: str = "tf",
    ) -> DataFrame:
        """Top-n hits joined back to the stored table, projecting
        ``fields`` (T6: searcher.doc(id) + return_fields)."""
        hits = self.top_n(query, n, scoring=scoring)
        stored = self.spark.read.parquet(self.table_path)
        joined = hits.join(
            stored, hits["doc_id"] == stored[self.doc_id_column], "inner"
        )
        cols = [hits["doc_id"], hits["score"]] + [
            stored[f] for f in (fields or [c for c in stored.columns])
        ]
        return joined.select(*cols).orderBy(F.col("score").desc(), F.col("doc_id").asc())


def cooccurrence_pmi(
    postings: DataFrame,
    n_docs: int,
    min_df: int = 5,
    top_terms: Optional[int] = None,
) -> DataFrame:
    """Pointwise mutual information over term pairs co-occurring in a
    document: ``(term_a, term_b, n_a, n_b, n_ab, pmi)`` with
    ``pmi = ln(n_docs * n_ab / (n_a * n_b))`` on document frequencies.

    Built from the postings table alone — no re-tokenization. The
    self-join on doc_id is O(Σ dl²) pairs; ``min_df`` (drop rare terms)
    and ``top_terms`` (keep only the most frequent) bound it the way
    distributional-stats pipelines do."""
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    vocab = dfreq.where(F.col("df") >= min_df)
    if top_terms is not None:
        vocab = vocab.orderBy(F.col("df").desc(), F.col("term")).limit(top_terms)
    p = postings.join(F.broadcast(vocab.select("term", "df")), "term").select(
        "doc_id", "term", "df"
    )
    a = p.select("doc_id", F.col("term").alias("term_a"), F.col("df").alias("n_a"))
    b = p.select("doc_id", F.col("term").alias("term_b"), F.col("df").alias("n_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    pmi = F.log(F.lit(float(n_docs)) * F.col("n_ab") / (F.col("n_a") * F.col("n_b")))
    return pairs.withColumn("pmi", pmi)
