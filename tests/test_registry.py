"""Driver-contract registry invariants.

The correctness gate evaluates ~50 registry entries in registration
order, so the repo budget is exactly 50 slots with every oracle-backed
query registered BEFORE the rows-only custom vectorized operators —
otherwise an oracle-backed query could fall outside the gated window
and silently lose its hash check.

The library's surface is held to the same rule twice, tests not
counted as callers: every public function or class is reached by some
program code, and every defaulted parameter of a public function is set
by some program call, or the name is allow-listed with its reason.
"""

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry

ROWS_ONLY = {
    "ann_lsh_ivf_topk",
    "multimodal_decode_features",
    "warc_roundtrip",
}


def test_registry_is_exactly_fifty_slots():
    assert len(entry.queries()) == 50


def test_every_oracle_has_a_query():
    q = entry.queries()
    missing = [n for n in entry.oracle_sql() if n not in q]
    assert missing == []


def test_rows_only_entries_are_registered_last():
    names = list(entry.queries())
    oracles = entry.oracle_sql()
    tail = names[-len(ROWS_ONLY):]
    assert set(tail) == ROWS_ONLY
    # everything before the tail is oracle-backed
    assert all(n in oracles for n in names[: -len(ROWS_ONLY)])


def test_rows_only_set_matches_docs():
    """The three rows-only ops are exactly the documented non-SQL-
    expressible ones (README 'Rows-only' list)."""
    q = entry.queries()
    oracles = entry.oracle_sql()
    assert {n for n in q if n not in oracles} == ROWS_ONLY


# options no program call sets, each with the reason it stays
UNCALLED_OPTIONS_ALLOWED = {
    "get_spark.extra_conf": "deployment setting",
    "connected_components.checkpoint_dir":
        "reliable checkpoints that survive executor loss",
    "write_warc_file.gzip_per_record":
        "writes the plain .warc input that read_warc must accept",
}


# public functions no program code reaches, each with the reason it stays
UNCALLED_FUNCTIONS_ALLOWED = {
    "minhash_signature":
        "scalar reference the batch signature kernel is tested against",
    "band_hashes":
        "scalar reference the batch band-key kernel is tested against",
    "est_jaccard": "scalar reference minhash_near_dup_pairs(verify='est') "
        "equals bit for bit",
}

# program code: what counts as a caller (tests do not)
_PROGRAM = ("entity_linking_spark", "__spark_entry__.py", "bench.py",
            "tools", "perfbench")


def _py_files(*parts):
    top = os.path.join(ROOT, *parts)
    if top.endswith(".py"):
        yield top
        return
    for dirpath, _dirs, files in os.walk(top):
        yield from (os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py"))


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _calls(tree):
    """(call, splat_keys) for every call in ``tree``. ``splat_keys`` are
    the string keys of the dict literals in the call's innermost
    enclosing function (the module, for top-level code), or None when
    it has none."""
    out = []

    def visit(node, keys):
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef)):
            keys = {
                k.value
                for d in ast.walk(node)
                if isinstance(d, ast.Dict)
                for k in d.keys
                if isinstance(k, ast.Constant) and isinstance(k.value, str)
            } or None
        if isinstance(node, ast.Call):
            out.append((node, keys))
        for child in ast.iter_child_nodes(node):
            visit(child, keys)

    visit(tree, None)
    return out


def _literal(node):
    """(True, value) for a literal expression, (False, None) otherwise."""
    try:
        return True, ast.literal_eval(node)
    except ValueError:
        return False, None


def test_every_option_has_a_caller():
    """Each defaulted positional parameter of a public library function
    (methods included) is set by some program call: one in the library,
    ``__spark_entry__.py``, ``bench.py``, ``tools/`` or ``perfbench/``
    (tests do not count). A call sets it by passing, by keyword or by
    position, a literal other than the default's literal value or any
    non-literal expression, or through ``*args`` / ``**kwargs``. A
    ``**kwargs`` splat sets the parameter when a dict literal in the
    calling function has it as a string key; when that function has no
    dict literal (pure forwarding), the splat counts for every
    parameter. Calls match by function name only, so the scan can
    over-count callers but never miss one."""
    options = []  # (func, param, positional index not counting self/cls, default)
    for path in _py_files("entity_linking_spark"):
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                args = node.args.posonlyargs + node.args.args
                assert not node.args.kwonlyargs, node.name
                skip = 1 if args and args[0].arg in ("self", "cls") else 0
                first = len(args) - len(node.args.defaults)
                options += [
                    (node.name, a.arg, i - skip, node.args.defaults[i - first])
                    for i, a in enumerate(args) if i >= first
                ]
    calls: dict[str, list[tuple[ast.Call, set[str] | None]]] = {}
    for path in (p for part in _PROGRAM for p in _py_files(part)):
        for node, keys in _calls(_parse(path)):
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            calls.setdefault(name, []).append((node, keys))

    def sets(value, default):
        is_lit, v = _literal(value)
        has_default, d = _literal(default)
        return not (is_lit and has_default and type(v) is type(d) and v == d)

    def passed(func, param, index, default):
        return any(
            (len(c.args) > index and not isinstance(c.args[index], ast.Starred)
             and sets(c.args[index], default))
            or any(isinstance(a, ast.Starred) for a in c.args[: index + 1])
            or any(
                (k.arg == param and sets(k.value, default))
                or (k.arg is None and (keys is None or param in keys))
                for k in c.keywords
            )
            for c, keys in calls.get(func, ())
        )

    uncalled = sorted(
        f"{func}.{param}"
        for func, param, index, default in options
        if not passed(func, param, index, default)
    )
    stale = sorted(set(UNCALLED_OPTIONS_ALLOWED) - set(uncalled))
    assert not stale, f"allow-listed options a program call sets: {stale}"
    unset = [o for o in uncalled if o not in UNCALLED_OPTIONS_ALLOWED]
    assert not unset, f"{len(unset)} options no program call sets: {unset}"


def _decorator_names(node):
    return {
        getattr(d, "id", None) or getattr(getattr(d, "func", None), "id", None)
        for d in node.decorator_list
    }


def test_every_public_function_has_a_program_caller():
    """Each public top-level function or class of the library is reached
    by program code (the library, ``__spark_entry__.py``, ``bench.py``,
    ``tools/``, ``perfbench/``; tests do not count) outside its own
    body: its name appears there as a ``Name``, an ``Attribute`` or an
    imported name or alias. ``@query``-registered functions and
    ``main`` count as called (the registry and the command line call
    them). Names match only, like the option test, so the scan can
    over-count callers but never miss one."""
    defs = []  # (path, node)
    for path in _py_files("entity_linking_spark"):
        defs += [
            (path, node)
            for node in _parse(path).body
            if isinstance(node, (ast.FunctionDef, ast.ClassDef))
            and not node.name.startswith("_")
            and node.name != "main"
            and "query" not in _decorator_names(node)
        ]
    # name -> {(path, line of the enclosing top-level def or class)}
    used: dict[str, set[tuple[str, int | None]]] = {}
    for path in (p for part in _PROGRAM for p in _py_files(part)):
        for top in _parse(path).body:
            owner = top.lineno if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else None
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    names = [node.id]
                elif isinstance(node, ast.Attribute):
                    names = [node.attr]
                elif isinstance(node, ast.alias):
                    names = [node.name.rsplit(".", 1)[-1], node.asname]
                else:
                    continue
                for name in filter(None, names):
                    used.setdefault(name, set()).add((path, owner))

    uncalled = sorted(
        node.name
        for path, node in defs
        if not used.get(node.name, set()) - {(path, node.lineno)}
    )
    stale = sorted(set(UNCALLED_FUNCTIONS_ALLOWED) - set(uncalled))
    assert not stale, f"allow-listed functions program code calls: {stale}"
    unreached = [f for f in uncalled if f not in UNCALLED_FUNCTIONS_ALLOWED]
    assert not unreached, (
        f"{len(unreached)} public functions only tests call: {unreached}"
    )
