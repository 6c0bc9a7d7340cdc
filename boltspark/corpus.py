"""Deterministic synthetic source-code corpus (seed=42, no external data).

Generates the engine's primary input table per BASELINE.json's
``input_hint``: ``(repo, path, commit, lang, content)`` — all strings —
with the skew/cardinality structure from FIXTURES.md §1:

* ``repo``   — Zipf-skewed over 200 repos (largest ≈ 15-20% of rows),
               exercising the salted-partitioning path;
* ``path``   — shared-prefix paths from a small vocabulary (FSST bait);
* ``commit`` — 40-hex sha1 of (repo, i//50): ~50 rows per commit;
* ``lang``   — 8 distinct, correlated with repo (dict+RLE bait);
* ``content``— templated source-code text sliced from per-lang megatexts
               (repeated keywords/identifiers), lognormal lengths
               (median ≈ 1.5 KB), ~1% unicode identifiers, a few empty
               strings, plus a unique id line per row so rows are not
               pure duplicates.

Everything is vectorized; generating 1 GB of content takes seconds.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

SEED = 42
LANGS = ["py", "rs", "java", "go", "ts", "md", "c", "sql"]

_KEYWORDS = {
    "py": ["def", "return", "class", "import", "self", "for", "in", "if",
           "else", "None", "True", "lambda", "yield", "with", "as", "raise"],
    "rs": ["fn", "let", "mut", "impl", "pub", "struct", "enum", "match",
           "Some", "None", "Result", "unwrap", "&self", "->", "use", "mod"],
    "java": ["public", "static", "void", "class", "extends", "final", "new",
             "return", "private", "int", "String", "throws", "null", "this"],
    "go": ["func", "return", "defer", "go", "chan", "interface", "struct",
           "package", "import", "err", "nil", "range", "for", "var"],
    "ts": ["const", "let", "function", "return", "interface", "type",
           "export", "import", "async", "await", "=>", "string", "number"],
    "md": ["#", "##", "the", "a", "of", "and", "to", "in", "is", "for",
           "```", "*", "-", "[link]", "(url)", "example"],
    "c": ["int", "char", "void", "return", "static", "struct", "sizeof",
          "const", "unsigned", "NULL", "#include", "#define", "if", "while"],
    "sql": ["SELECT", "FROM", "WHERE", "GROUP", "BY", "JOIN", "ON", "AND",
            "OR", "INSERT", "INTO", "VALUES", "CREATE", "TABLE", "AS"],
}

_DIRS = ["src", "lib", "core", "util", "api", "internal", "pkg", "engine",
         "tests", "docs", "cmd", "server", "client", "common", "io", "net"]
_NAMES = ["reader", "writer", "parser", "codec", "buffer", "filter", "index",
          "stream", "block", "page", "table", "column", "schema", "batch"]


def _megatext(lang: str, rng: np.random.Generator, size: int = 1 << 20) -> bytes:
    """~1 MB of synthetic code-like text for one language."""
    kws = _KEYWORDS[lang]
    lines = []
    total = 0
    indent_unit = "\t" if lang == "go" else "    "
    li = 0
    while total < size:
        depth = int(rng.integers(0, 4))
        toks = [kws[int(rng.integers(0, len(kws)))] for _ in range(int(rng.integers(2, 9)))]
        if rng.random() < 0.5:
            toks.append(f"var{int(rng.integers(0, 64))}")
        if rng.random() < 0.3:
            toks.append(str(int(rng.integers(0, 10000))))
        if rng.random() < 0.01:
            toks.append(f"π_{int(rng.integers(0, 9))}→λ")  # unicode identifiers
        line = indent_unit * depth + " ".join(toks) + "\n"
        lines.append(line)
        total += len(line)
        li += 1
    return "".join(lines).encode("utf-8")


def generate(n_rows: int, seed: int = SEED,
             median_len: int = 1536, max_len: int = 512 << 10,
             with_nullable: bool = False, row_offset: int = 0) -> pa.Table:
    """Deterministic corpus table; same (n_rows, seed) -> identical bytes.

    ``row_offset`` is the global index of the first row: the content
    trailers (``// row-id N``) and the commit grouping (50 rows per
    commit) count from it, so chunks generated separately stay unique
    across chunks.  Commit keys stay distinct up to 50 M global rows."""
    rng = np.random.default_rng(seed)

    # repos: Zipf-ish skew over 200 repos
    n_repos = 200
    w = 1.0 / np.power(np.arange(1, n_repos + 1), 1.15)
    w /= w.sum()
    repo_idx = rng.choice(n_repos, size=n_rows, p=w)
    repo_names = np.array([f"org{i % 17}/repo{i}" for i in range(n_repos)])
    repos = repo_names[repo_idx]

    # lang correlated with repo (90%), else random
    lang_of_repo = np.array([LANGS[i % len(LANGS)] for i in range(n_repos)])
    langs = lang_of_repo[repo_idx].copy()
    flip = rng.random(n_rows) < 0.1
    langs[flip] = np.array(LANGS)[rng.integers(0, len(LANGS), int(flip.sum()))]

    # paths: dir/dir/name{n}.ext with shared prefixes
    d1 = np.array(_DIRS)[rng.integers(0, len(_DIRS), n_rows)]
    d2 = np.array(_DIRS)[rng.integers(0, len(_DIRS), n_rows)]
    nm = np.array(_NAMES)[rng.integers(0, len(_NAMES), n_rows)]
    fileno = rng.integers(0, 50, n_rows)
    paths = np.array([
        f"{a}/{b}/{c}{k}.{l}" for a, b, c, k, l in zip(d1, d2, nm, fileno, langs)
    ])

    # commits: sha1(repo:i//50) — ~50 rows per commit, high-entropy hex
    row_ids = np.arange(row_offset, row_offset + n_rows, dtype=np.int64)
    commit_key = repo_idx.astype(np.int64) * 1_000_000 + row_ids // 50
    uniq, inv = np.unique(commit_key, return_inverse=True)
    uniq_hex = np.array([
        hashlib.sha1(f"{k}".encode()).hexdigest() for k in uniq
    ])
    commits = uniq_hex[inv]

    # content: slices of per-lang megatexts + unique trailer line
    megas = {lang: _megatext(lang, np.random.default_rng(seed + 7 + i))
             for i, lang in enumerate(LANGS)}
    lens = np.minimum(
        rng.lognormal(mean=np.log(median_len), sigma=1.0, size=n_rows).astype(np.int64),
        max_len,
    )
    lens[rng.random(n_rows) < 0.002] = 0  # a few empty files
    mega_len = min(len(m) for m in megas.values())
    starts = rng.integers(0, mega_len - max_len - 1 if mega_len > max_len else 1,
                          n_rows)
    # build the blob vectorized per language group
    contents = np.empty(n_rows, dtype=object)
    for lang in LANGS:
        sel = np.nonzero(langs == lang)[0]
        if not len(sel):
            continue
        m = megas[lang]
        for i in sel:
            s = int(starts[i]);  e = min(s + int(lens[i]), len(m))
            # never split a multi-byte UTF-8 sequence (content is a
            # *string* column; bytes fidelity is still exact for valid UTF-8)
            while s < len(m) and (m[s] & 0xC0) == 0x80:
                s += 1
            while e > s and e < len(m) and (m[e] & 0xC0) == 0x80:
                e -= 1
            body = m[s:e]
            contents[i] = body + (b"// row-id %d\n" % row_ids[i] if lens[i] else b"")

    cols = {
        "repo": pa.array(repos, pa.string()),
        "path": pa.array(paths, pa.string()),
        "commit": pa.array(commits, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "content": pa.array([c.decode("utf-8") for c in contents], pa.string()),
    }
    if with_nullable:
        i = np.arange(n_rows)
        null_mask = (i % 5 == 0) | (i % 17 == 0)  # test_utils.rs:60 pattern
        stars = rng.integers(0, 100_000, n_rows)
        cols["stars"] = pa.array(stars, pa.int64(), mask=null_mask)
    return pa.table(cols)


def write_parquet(path: str, n_rows: int, seed: int = SEED,
                  row_group_rows: int = 2048, chunk_rows: int = 2_000_000,
                  **kw) -> pa.Table | None:
    """Small row groups so Spark's scan parallelizes (one task per group).

    Above ``chunk_rows`` the table streams to the file in deterministic
    per-chunk pieces (seed + 100003*chunk; row ids and commit keys
    continue from the chunk's global row offset, so both stay unique
    across chunks): generate() materializes the whole corpus in driver
    memory (~2.6 KB/row plus a decoded copy), and a 40 GB-content scale
    factor OOM-killed the process when built in one shot.  At or below
    ``chunk_rows`` — every scale any previous round used — output is
    byte-identical to the unchunked writer.
    Returns the table for the single-shot path, None when chunked."""
    import pyarrow.parquet as pq

    if n_rows <= chunk_rows:
        t = generate(n_rows, seed, **kw)
        pq.write_table(t, path, row_group_size=row_group_rows)
        return t
    writer = None
    try:
        off = 0
        while off < n_rows:
            n = min(chunk_rows, n_rows - off)
            t = generate(n, seed + 100003 * (off // chunk_rows),
                         row_offset=off, **kw)
            if writer is None:
                writer = pq.ParquetWriter(path, t.schema)
            writer.write_table(t, row_group_size=row_group_rows)
            del t
            off += n
    finally:
        if writer is not None:
            writer.close()
    return None
