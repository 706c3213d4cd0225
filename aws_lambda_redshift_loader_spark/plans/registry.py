"""Query registry backing ``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 registers here as a named
query builder ``(spark, sf_dir) -> DataFrame`` plus (when the semantics are
ANSI-SQL-expressible) a DuckDB oracle SQL string over the same parquet
tables. The driver hash-compares the two at sf=0.01, so:

- every computed column is aliased IDENTICALLY on both sides;
- float aggregates go through DECIMAL so both engines produce bit-identical
  doubles (double SUM order is nondeterministic under parallelism);
- timestamps are emitted as 'yyyy-MM-dd HH:mm:ss' strings or DATEs, with the
  Spark session pinned to UTC (session.tune).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}

# Oracles whose SQL embeds ANOTHER query's oracle (e.g. hybrid RRF nests
# bm25_topk + embedding_topk_bruteforce) register a zero-arg CALLABLE here
# instead of a string, so building the SQL is deferred until load_all() has
# imported every module. Evaluating such an oracle at decoration time made
# `import operators.text` order-dependent (it crashed unless
# operators.similarity happened to be imported first).
_LAZY_ORACLES: dict[str, Callable[[], str]] = {}


def register(
    name: str, oracle: str | Callable[[], str] | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register a query builder under ``name`` with an optional oracle.

    ``oracle`` may be a DuckDB SQL string or a zero-arg callable returning
    one; callables are resolved by :func:`load_all` after every operator
    module has been imported (cross-module oracle composition)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        sql: str | None
        if callable(oracle):
            _LAZY_ORACLES[name] = oracle
            sql = None  # placeholder until load_all resolves it
        else:
            sql = oracle
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=sql, doc=fn.__doc__ or "")
        return fn

    return deco


def _resolve_lazy_oracles() -> None:
    """Materialize deferred oracle SQL once all modules are registered.

    Constraint: a callable oracle may nest only STRING-oracle queries —
    nesting another deferred oracle would read its ``None`` placeholder
    (resolution order is arbitrary). The tripwire below catches that
    mistake loudly instead of shipping ``... AS (None) ...`` to DuckDB.
    It matches the word ``None`` anywhere in the rendered SQL (not just
    the parenthesized ``(None)`` form) so an unresolved nested oracle
    interpolated without surrounding parentheses — e.g.
    ``f"WITH {other.oracle}, ..."`` → ``WITH None, ...`` — is caught
    too. No legitimate oracle in this repo spells the bare word
    ``None`` (SQL NULL is ``NULL``); if one ever must, quote it so the
    word-boundary regex does not fire on an f-string artifact."""
    import dataclasses
    import re

    while _LAZY_ORACLES:
        name, thunk = _LAZY_ORACLES.popitem()
        sql = thunk()
        assert sql is not None and not re.search(r"\bNone\b", sql), (
            f"lazy oracle for {name!r} embedded an unresolved oracle "
            "(callable oracles may nest only string-oracle queries)"
        )
        QUERIES[name] = dataclasses.replace(QUERIES[name], oracle=sql)


# The correctness harness walks queries() in order and (round 1
# evidence: CORRECTNESS_r01.json holds exactly entries 0-49) verifies a
# bounded prefix of it. Order therefore matters operationally: queries
# whose CODE CHANGED since their own last green verdict go first
# (those verdicts describe code that no longer exists), then everything
# else stalest-first, so every green row in the next CORRECTNESS file
# describes current code. The order is DERIVED MECHANICALLY (round-6
# VERDICT item 2 — a hand-kept list let two-line micro-fixes slip the
# rotation): `_derive_order` reads the repo's CORRECTNESS_r*.json files
# for each query's last green round, finds that round's verdict commit in
# git history, and git-diffs it against the working tree; any overlap
# between a diff hunk and the query's current source span (or a
# module-level hunk in the query's file — shared helpers/constants count
# conservatively as touching every query in the module) marks the query
# changed. Only `verification_tiers()` (behind `verification_order()`
# and `window_status.py`) runs this; `load_all()` returns registration
# order and starts no git process. The local
# tests/test_oracle.py sweep covers ALL queries regardless of order.


def _repo_root() -> str:
    import os

    return os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _last_green_rounds(root: str) -> dict[str, int]:
    """query name -> latest driver round with a green (rows+schema+hash)
    verdict, from the repo's CORRECTNESS_r*.json files."""
    import glob
    import json
    import os
    import re

    rounds: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        n = int(m.group(1))
        try:
            data = json.load(open(path))
        except (OSError, ValueError):
            continue
        for q, v in data.items():
            if not isinstance(v, dict):
                continue
            green = (
                v.get("rows_match") and v.get("schema_match")
                and v.get("hash_match") is not False
            )
            if green:
                rounds[q] = max(rounds.get(q, 0), n)
    return rounds


def _verdict_commits(root: str) -> dict[int, str]:
    """round number -> the commit that recorded that round's verdict +
    correctness files (subject 'round N: verdict...'). That commit's tree is
    the newest code the round-N verdicts could describe, so it is the diff
    base for 'changed since round N'."""
    import re
    import subprocess

    out = subprocess.run(
        ["git", "-C", root, "log", "--format=%H %s"],
        capture_output=True, text=True, timeout=30,
    )
    if out.returncode != 0:
        return {}
    commits: dict[int, str] = {}
    for line in out.stdout.splitlines():
        m = re.match(r"([0-9a-f]{7,40}) round (\d+): verdict", line)
        if m:
            commits.setdefault(int(m.group(2)), m.group(1))
    return commits


def _diff_ranges(root: str, base: str) -> dict[str, list[tuple[int, int]]]:
    """repo-relative .py path -> new-side changed line ranges of
    `git diff base` (working tree included, so the derivation is correct
    both mid-build and after the driver's end-of-round commit)."""
    import re
    import subprocess

    out = subprocess.run(
        ["git", "-C", root, "diff", "--unified=0", "--no-color", base, "--",
         "*.py"],
        capture_output=True, text=True, timeout=60,
    )
    if out.returncode != 0:
        raise RuntimeError(f"git diff failed: {out.stderr[:200]}")
    ranges: dict[str, list[tuple[int, int, bool, tuple[str, ...]]]] = {}
    current = None
    removed: list[str] | None = None
    for line in out.stdout.splitlines():
        if line.startswith("+++ b/"):
            current = line[6:]
            removed = None
        elif line.startswith("@@") and current:
            m = re.match(r"@@ -\d+(?:,(\d+))? \+(\d+)(?:,(\d+))? @@", line)
            if m:
                old_count = int(m.group(1)) if m.group(1) is not None else 1
                start = int(m.group(2))
                count = int(m.group(3)) if m.group(3) is not None else 1
                # count == 0 is a pure deletion at this position: the
                # surrounding code changed, so keep a 1-line touch point.
                # old_count == 0 marks a PURE ADDITION — no existing line
                # modified or removed — which _derive_order can prove
                # harmless to existing queries when the added lines form
                # only complete new top-level definitions. The removed
                # lines ride along so deletions landing BETWEEN current
                # statements (whole-statement removals) can be attributed
                # to the names they deleted.
                removed = []
                ranges.setdefault(current, []).append(
                    (start, start + max(count, 1) - 1, old_count == 0, removed)  # type: ignore[arg-type]
                )
        elif removed is not None and line.startswith("-") and not line.startswith("---"):
            removed.append(line[1:])
    return {
        rel: [(a, b, p, tuple(rm)) for a, b, p, rm in rngs]
        for rel, rngs in ranges.items()
    }


def _query_spans() -> tuple[dict[str, list[tuple[int, int, str]]], dict[str, list[str]]]:
    """Current-source spans of every registered query (file -> [(start, end,
    name)]) plus file -> all query names in it. Spans include the @register
    decorator call, so oracle-SQL edits count as query changes."""
    import inspect
    import os

    root = _repo_root()
    spans: dict[str, list[tuple[int, int, str]]] = {}
    members: dict[str, list[str]] = {}
    for name, spec in QUERIES.items():
        try:
            f = inspect.getsourcefile(spec.fn)
            lines, start = inspect.getsourcelines(spec.fn)
        except (OSError, TypeError):
            continue
        rel = os.path.relpath(os.path.abspath(f), root)
        spans.setdefault(rel, []).append((start, start + len(lines) - 1, name))
        members.setdefault(rel, []).append(name)
    return spans, members


_TOPLEVEL_SPAN_CACHE: dict[tuple[str, str], list[tuple[int, int]]] = {}


def _toplevel_spans(root: str, rel: str) -> list[tuple[int, int]]:
    """Line spans of every top-level statement in the CURRENT file
    (decorators included), for the pure-addition harmlessness proof."""
    key = (root, rel)
    if key in _TOPLEVEL_SPAN_CACHE:
        return _TOPLEVEL_SPAN_CACHE[key]
    import ast
    import os

    with open(os.path.join(root, rel)) as fh:
        tree = ast.parse(fh.read())
    spans = []
    for node in tree.body:
        start = min(
            [node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])]
        )
        spans.append((start, node.end_lineno or start))
    _TOPLEVEL_SPAN_CACHE[key] = spans
    return spans


def _removed_toplevel_names(removed: tuple[str, ...]) -> tuple[set[str], bool]:
    """Names defined by removed column-0 lines (def/class/assignment
    heads), plus an `opaque` flag for removed code we cannot attribute
    (continuation lines are fine — their statement head names them; a
    col-0 code line with no extractable name is opaque)."""
    import re

    names: set[str] = set()
    opaque = False
    for ln in removed:
        if not ln or ln[0] in " \t" or ln.lstrip().startswith("#"):
            continue  # indented (body of a named stmt) / comment / blank
        m = re.match(r"(?:def|class)\s+(\w+)|(\w+)\s*[:=][^=]", ln)
        if m:
            names.add(m.group(1) or m.group(2))
        elif ln.startswith(("@", ")", "]", "}", '"', "'", "import ", "from ")):
            continue  # decorator/closer/docstring/import fragments
        else:
            opaque = True
    return names, opaque


def _is_new_toplevel_only(root: str, rel: str, a: int, b: int) -> bool:
    """True iff the purely-added hunk [a, b] (new-file coordinates) lies
    entirely inside top-level statements that are THEMSELVES fully inside
    the hunk — i.e. it adds only complete new module-level definitions
    (a new registered query, a new helper, a new constant). Such an
    addition cannot change any existing query's execution: no existing
    line was modified, and no pre-existing function body contains the
    new lines. An addition INSIDE an existing def (its span extends past
    the hunk) fails this test and keeps the conservative whole-module
    marking."""
    try:
        spans = _toplevel_spans(root, rel)
    except (OSError, SyntaxError):
        return False
    for s, e in spans:
        if a <= e and b >= s:  # hunk intersects this top-level statement
            if s < a or e > b:  # statement pre-exists beyond the hunk
                return False
    return True


_NAME_GRAPH_CACHE: dict[tuple[str, str], list[tuple[int, int, frozenset, frozenset, bool]]] = {}


def _name_graph(
    root: str, rel: str
) -> list[tuple[int, int, frozenset, frozenset, bool]]:
    """Per top-level statement of the CURRENT file: (start, end,
    names-it-defines, names-it-references, is-import). The reference set
    is an AST over-approximation (locals shadowing globals only ADD
    references), which is the safe direction for change tracking.
    Imports are marked so import-line churn (new names appended for new
    queries) does not flag whole modules: cross-module FUNCTION BODIES
    are outside this tracker's scope either way — the local oracle sweep
    is the backstop for those — so an import line carries no in-scope
    behavior signal."""
    key = (root, rel)
    if key in _NAME_GRAPH_CACHE:
        return _NAME_GRAPH_CACHE[key]
    import ast
    import os

    with open(os.path.join(root, rel)) as fh:
        tree = ast.parse(fh.read())
    out: list[tuple[int, int, frozenset, frozenset, bool]] = []
    for node in tree.body:
        start = min(
            [node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])]
        )
        end = node.end_lineno or start
        defined: set[str] = set()
        is_import = isinstance(node, (ast.Import, ast.ImportFrom))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defined.add(node.name)
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    defined.add(t.id)
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            defined.add(node.target.id)
        elif is_import:
            for alias in node.names:
                defined.add(alias.asname or alias.name.split(".")[0])
        referenced = frozenset(
            n.id for n in ast.walk(node) if isinstance(n, ast.Name)
        )
        out.append((start, end, frozenset(defined), referenced, is_import))
    _NAME_GRAPH_CACHE[key] = out
    return out


def _reachable_names(
    graph: list[tuple[int, int, frozenset, frozenset]], qstart: int, qend: int
) -> set[str] | None:
    """Transitive closure of module-level names a query (span [qstart,
    qend]) can reach: seed with the references of the top-level
    statement(s) containing the span, then follow name -> defining
    statement -> its references. None => span not locatable (caller must
    fall back to conservative whole-module marking)."""
    seeds = [g for g in graph if g[0] <= qstart and qend <= g[1]]
    if not seeds:
        return None
    defs_by_name: dict[str, list[tuple[int, int, frozenset, frozenset]]] = {}
    for g in graph:
        for d in g[2]:
            defs_by_name.setdefault(d, []).append(g)
    seen: set[str] = set()
    frontier: set[str] = set().union(*[set(g[3]) for g in seeds])
    while frontier:
        n = frontier.pop()
        if n in seen:
            continue
        seen.add(n)
        for g in defs_by_name.get(n, []):
            frontier |= set(g[3]) - seen
    return seen


def _import_bindings_of(nodes) -> dict[str, tuple[str, str]]:
    """asname -> (source module, original name) over Import/ImportFrom
    nodes; Import binds the top package name to itself."""
    import ast

    out: dict[str, tuple[str, str]] = {}
    for node in nodes:
        if isinstance(node, ast.ImportFrom):
            mod = "." * node.level + (node.module or "")
            for alias in node.names:
                out[alias.asname or alias.name] = (mod, alias.name)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                out[alias.asname or alias.name.split(".")[0]] = (alias.name, "")
    return out


def _rebound_import_names(root: str, rel: str, removed: tuple[str, ...]) -> set[str]:
    """Names whose import binding CHANGED: bound by a removed import line
    and now either absent from the module's top-level imports or bound
    from a different source (``from .a import f`` -> ``from .b import
    f``). Such a rewire changes which object ``f`` is, so queries whose
    closure references ``f`` must re-verify even though the hunk's
    CURRENT statements are import-only. Pure append churn (``import a``
    -> ``import a, b`` rewriting the line) re-binds identically and is
    NOT flagged. Best-effort: parenthesized continuations are joined
    before parsing; fragments that still fail to parse yield no names
    (the local oracle sweep remains the backstop, as for all
    cross-module bodies)."""
    import ast
    import os
    import re

    text = "\n".join(removed)
    # Collapse parenthesized import lists onto one logical line.
    text = re.sub(r"\(([^()]*)\)", lambda m: m.group(1).replace("\n", " "), text)
    nodes = []
    for ln in text.splitlines():
        ln = ln.strip().rstrip(",\\")
        if not ln.startswith(("import ", "from ")):
            continue
        try:
            nodes.append(ast.parse(ln).body[0])
        except SyntaxError:
            continue
    old = _import_bindings_of(nodes)
    if not old:
        return set()
    try:
        with open(os.path.join(root, rel)) as fh:
            tree = ast.parse(fh.read())
    except (OSError, SyntaxError):
        return set(old)
    cur = _import_bindings_of(tree.body)
    return {name for name, src in old.items() if cur.get(name) != src}


def _changed_queries(
    root: str, last: dict[str, int], commits: dict[int, str]
) -> set[str]:
    """Queries whose source changed since their own last green driver
    verdict — the tier-1 membership of `_derive_order`, diffed against
    the verdict ``commits`` it already read from git."""
    spans, members = _query_spans()

    changed: set[str] = set()
    for rnd in sorted({r for r in last.values()}):
        base = commits.get(rnd)
        if base is None:
            # No verdict commit for this round (shouldn't happen): treat its
            # queries as changed so they re-verify rather than silently age.
            changed.update(q for q, r in last.items() if r == rnd)
            continue
        for rel, rngs in _diff_ranges(root, base).items():
            qspans = spans.get(rel)
            if not qspans:
                continue
            module_touched = False
            touched_names: set[str] = set()
            for a, b, pure_add, removed in rngs:
                hit = False
                for s, e, qname in qspans:
                    if a <= e and b >= s:
                        hit = True
                        if last.get(qname) == rnd:
                            changed.add(qname)
                if hit:
                    continue
                if pure_add and _is_new_toplevel_only(root, rel, a, b):
                    # Appending complete new top-level definitions cannot
                    # alter an existing query's execution (round-7 lesson:
                    # 31 appended registrations flooding tier 1 starved
                    # genuinely-changed queries out of the verification
                    # window).
                    continue
                # Module-level change outside every query span (a shared
                # helper body, a constant, an oracle CTE): attribute it to
                # the top-level names the hunk's statements define, and
                # flag only queries whose reference closure reaches one of
                # them. A hunk not attributable to any named statement
                # keeps the conservative whole-module marking.
                try:
                    graph = _name_graph(root, rel)
                except (OSError, SyntaxError):
                    module_touched = True
                    continue
                stmts = [g for g in graph if a <= g[1] and b >= g[0]]
                if stmts and all(g[4] for g in stmts):
                    # Import-only hunk: the CURRENT statements carry no
                    # in-scope behavior signal (see _name_graph docstring)
                    # — but a REMOVED import line may have rebound a name
                    # queries reference ('from .a import f' -> 'from .b
                    # import f'), so attribute those names before skipping.
                    touched_names |= _rebound_import_names(root, rel, removed)
                    continue
                hunk_names = set().union(
                    *[set(g[2]) for g in stmts if not g[4]], set()
                )
                if not stmts:
                    # Hunk lands BETWEEN current statements: a deleted
                    # whole top-level statement (or comment churn).
                    # Attribute the removed col-0 definitions by name;
                    # unparseable non-trivial removals stay conservative.
                    names, opaque = _removed_toplevel_names(removed)
                    hunk_names |= names
                    if opaque:
                        module_touched = True
                        continue
                    if not names:
                        continue  # comment/blank-only churn
                if hunk_names:
                    touched_names |= hunk_names
                else:
                    module_touched = True
            if module_touched:
                changed.update(q for q in members[rel] if last.get(q) == rnd)
            elif touched_names:
                graph = _name_graph(root, rel)
                for s, e, qname in qspans:
                    if last.get(qname) != rnd or qname in changed:
                        continue
                    reach = _reachable_names(graph, s, e)
                    if reach is None or reach & touched_names:
                        changed.add(qname)
    return changed


def _derive_order(
    reg_index: dict[str, int],
) -> tuple[list[str], dict[str, int], set[str]]:
    """Mechanical verification-priority order: (1) queries with no green
    driver verdict yet, (2) queries whose source changed since their own
    last green round, (3) the rest, stalest round first; registration order
    breaks ties within each tier. Returns (order, last green round per
    query, changed queries) — the tiers the order was built from. One
    `git log` per call."""
    root = _repo_root()
    last = _last_green_rounds(root)
    if not last:
        raise RuntimeError("no CORRECTNESS files found")
    commits = _verdict_commits(root)
    if not commits:
        raise RuntimeError("no verdict commits found")
    changed = _changed_queries(root, last, commits)

    def key(name: str) -> tuple[int, int, int]:
        if name not in last:
            tier = 0
        elif name in changed:
            tier = 1
        else:
            tier = 2
        return (tier, last.get(name, 0), reg_index[name])

    return sorted(QUERIES, key=key), last, changed


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module so registrations run, resolve the lazy
    oracles, and return QUERIES in registration order. Starts no process;
    the correctness-check order is :func:`verification_order`."""
    # Imports are inside the function so `import plans.registry` stays cheap
    # and circular-import-free; modules register on import.
    from ..operators import (  # noqa: F401
        batching_sql,
        dedup,
        multimodal,
        relational,
        similarity,
        sketches,
        text,
        windows_sql,
    )
    from ..streaming import stream_queries  # noqa: F401

    _resolve_lazy_oracles()
    return dict(QUERIES)


def verification_tiers() -> tuple[list[str], dict[str, int], set[str]]:
    """``_derive_order``'s (order, last green round per query, changed
    queries); without git or the CORRECTNESS files, registration order
    and no verdicts."""
    names = list(load_all())
    try:
        return _derive_order({name: i for i, name in enumerate(names)})
    except Exception:
        # No git / no correctness files (fresh checkout, sdist install).
        # Warn loudly — a silently-broken derivation would disable the
        # verification rotation without any signal (round-7 ADVICE).
        import logging
        import traceback

        logging.getLogger(__name__).warning(
            "registry._derive_order failed; falling back to registration "
            "order (verification rotation DISABLED):\n%s",
            traceback.format_exc(),
        )
        return names, {}, set()


def verification_order() -> list[str]:
    """Every registered query name in verification-priority order (see
    ``_derive_order``), or in registration order when git or the
    CORRECTNESS files are unavailable."""
    return verification_tiers()[0]
