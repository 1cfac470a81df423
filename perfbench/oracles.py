"""Output oracles: each check returns a list of problems (empty = correct).

The expected values come from the generators in ``gen.py``, rendered here
by a plain-Python model of the xmlpipe2 document format, independent of
the Spark code under test. Doc ids are checked against the program's own
pure-Python reference hash, ``sdbm_key_py``, which its tests pin to
JDK-computed vectors.
"""

from __future__ import annotations

import collections
import json
import re
import xml.parsers.expat

import numpy as np

from cql_xmlpipe_spark.functions.dockey import sdbm_key_py

_DAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_ID = re.compile(r'<sphinx:document id="(-?\d+)">')
_OPEN = '<?xml version="1.0" encoding="utf-8"?><sphinx:docset>'
_CLOSE = "</sphinx:docset>"


def escape_text(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def render_string(s: str | None) -> str:
    """A text field: a ``[[i,j],…]`` JSON list of int lists becomes a
    CDATA block of ``<mem>i j</mem>`` elements; anything else is escaped."""
    s = s or ""
    if s.startswith("[") and s.endswith("]"):
        try:
            parsed = json.loads(s)
        except ValueError:
            parsed = None
        if isinstance(parsed, list) and all(
            isinstance(a, list) and all(type(e) is int for e in a) for a in parsed
        ):
            return "<![CDATA[" + "".join("<mem>" + " ".join(map(str, a)) + "</mem>" for a in parsed) + "]]>"
    return escape_text(s)


def render_field(name: str, value) -> str:
    if name in ("url", "body", "mem"):
        body = render_string(value)
    elif name == "blob":
        body = "<![CDATA[" + ("" if value is None else value.hex().upper()) + "]]>"
    elif value is None:
        body = ""
    elif name == "tags":
        body = escape_text(" ".join("" if t is None else t for t in value))
    elif name == "ts":
        # java.util.Date.toString() in UTC: EEE MMM dd HH:mm:ss zzz yyyy
        body = f"{_DAYS[value.weekday()]} {_MONTHS[value.month - 1]} {value:%d %H:%M:%S} UTC {value.year}"
    else:
        body = escape_text(repr(value) if isinstance(value, float) else str(value))
    return f"<{name}>{body}</{name}>"


def doc_id(row: dict) -> int:
    """Key (url text, pos int): pos is the hash base, url the hashed string."""
    return sdbm_key_py(row["pos"], row["url"])


def expected_document(row: dict) -> str:
    fields = "".join(render_field(name, value) for name, value in row.items())
    return f'\n<sphinx:document id="{doc_id(row)}">{fields}</sphinx:document>'


def check_doc_count(docs: list[str], n_expected: int) -> list[str]:
    if len(docs) != n_expected:
        return [f"doc count {len(docs)} != expected {n_expected}"]
    return []


def check_wellformed(stream: str) -> list[str]:
    """Whole docset parses as XML (prefixed names, no namespace processing)."""
    parser = xml.parsers.expat.ParserCreate()
    try:
        parser.Parse(stream.encode("utf-8"), True)
    except xml.parsers.expat.ExpatError as exc:
        return [f"docset is not well-formed XML: {exc}"]
    return []


def check_ids(docs: list[str], expected_ids: collections.Counter) -> list[str]:
    got = collections.Counter()
    for d in docs:
        m = _ID.match(d, 1)
        if m is None:
            return [f"document without an id attribute: {d[:80]!r}"]
        got[int(m.group(1))] += 1
    if got != expected_ids:
        wrong = sorted((got - expected_ids).elements())[:3]
        return [f"doc ids differ from sdbm_key_py over the keys, e.g. {wrong}"]
    return []


def check_same_docset(stream_docs: list[str], file_docs: list[str]) -> list[str]:
    if collections.Counter(stream_docs) != collections.Counter(file_docs):
        return ["stream sink and files sink hold different document sets"]
    return []


def check_sample(docs: list[str], rows: list[dict], seed: int, n: int = 256) -> list[str]:
    """A seeded sample of rows must render exactly as expected_document."""
    by_id = {int(m.group(1)): d for d in docs if (m := _ID.match(d, 1))}
    pick = np.random.default_rng([seed, 6]).choice(len(rows), size=min(n, len(rows)), replace=False)
    errors = []
    for i in pick:
        want = expected_document(rows[i])
        got = by_id.get(doc_id(rows[i]))
        if got != want:
            errors.append(f"row {i}: got {got!r:.200} want {want!r:.200}")
    return errors


def check_export(stream: str, file_docs: list[str], rows: list[dict], expected_ids, seed: int) -> list[str]:
    """Every export oracle over one pass: ``stream`` is the whole stream
    sink text and ``file_docs`` the documents read back from the files sink."""
    docs = split_docs(stream)
    framed = stream.startswith(_OPEN) and stream.endswith("\n" + _CLOSE)
    return (
        ([] if framed else [f"stream envelope {stream[:60]!r} … {stream[-20:]!r}"])
        + check_doc_count(docs, len(rows))
        + check_wellformed(stream)
        + check_ids(docs, expected_ids)
        + check_same_docset(docs, file_docs)
        + check_sample(docs, rows, seed)
    )


def split_docs(stream: str) -> list[str]:
    """The ``\\n<sphinx:document …>…</sphinx:document>`` pieces of a docset."""
    body = stream[stream.find(_OPEN) + len(_OPEN) : stream.rfind("\n" + _CLOSE)]
    return ["\n" + d for d in body.split("\n")[1:]]


def check_envelope(prolog: str, close: str) -> list[str]:
    """The files sink's envelope parts frame the part files like the stream."""
    if (prolog, close) != (_OPEN + "\n", _CLOSE):
        return [f"files sink envelope {prolog!r} … {close!r}"]
    return []


def check_rosters(rosters: list[list[int]], family: dict[int, int]) -> list[str]:
    """No roster may hold documents of two planted families."""
    errors = []
    for members in rosters:
        fams = {family.get(m) for m in members}
        if None in fams:
            errors.append(f"roster holds ids not in the corpus: {members[:5]}")
        elif len(fams) > 1:
            errors.append(f"roster spans families {sorted(fams)[:5]}: {members[:5]}")
    return errors


def planted_pairs(family: dict[int, int]) -> int:
    sizes = collections.Counter(family.values())
    return sum(g * (g - 1) // 2 for g in sizes.values())


def dedup_recall(rosters: list[list[int]], family: dict[int, int]) -> float:
    """Share of planted same-family pairs whose two documents share a roster."""
    found = 0
    for members in rosters:
        sizes = collections.Counter(family[m] for m in members if m in family)
        found += sum(g * (g - 1) // 2 for g in sizes.values())
    return found / planted_pairs(family)


def pair_precision(pairs: list[tuple[int, int]], family: dict[int, int]) -> float:
    """Share of verified pairs that were planted (same family)."""
    if not pairs:
        return 0.0
    return sum(family.get(a) == family.get(b) for a, b in pairs) / len(pairs)


def check_topk(
    result: dict[int, list[tuple[int, float]]],
    q_ids: np.ndarray,
    q: np.ndarray,
    corpus: np.ndarray,
    k: int,
    tol: float = 1e-5,
) -> list[str]:
    """Each query's answer (``[(vec_id, cos), …]`` in rank order) must be an
    exact cosine top-k, ties allowed: k distinct corpus ids whose numpy
    cosines all reach the k-th best, with matching reported cosines.
    Corpus vec_id ``i`` is row ``i`` of ``corpus``."""
    c = corpus.astype(np.float64)
    qq = q.astype(np.float64)
    cos = (qq @ c.T) / np.outer(np.linalg.norm(qq, axis=1), np.linalg.norm(c, axis=1))
    want = min(k, len(c))
    errors = []
    for row, qid in enumerate(q_ids.tolist()):
        got = result.get(qid, [])
        ids = [v for v, _ in got]
        if len(ids) != want or len(set(ids)) != want or not all(0 <= v < len(c) for v in ids):
            errors.append(f"query {qid}: {len(ids)} answers {ids[:3]}…, want {want} distinct corpus ids")
            continue
        kth = np.partition(cos[row], -want)[-want]
        exact = cos[row, ids]
        if (exact < kth - tol).any():
            errors.append(f"query {qid}: answer outside the exact top-{k}")
        elif np.abs(exact - np.array([s for _, s in got])).max() > tol:
            errors.append(f"query {qid}: reported cosines differ from numpy")
        elif (np.diff(exact) > tol).any():
            errors.append(f"query {qid}: answers not in descending cosine order")
    return errors
