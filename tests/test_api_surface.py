"""The library runs one configuration: no defaulted parameter goes
unpassed, no public function goes uncalled, and no operator runs only
in its tests.

An AST scan of every public top-level function under ``tempel_spark/``
against every call site in ``tempel_spark/``, ``tests/``, ``scripts/``,
``perfbench/``, ``bench*.py`` and ``__spark_entry__.py``. A call passes
a parameter by position or by keyword. A call that forwards its
enclosing function's own ``*args``/``**kwargs`` passes what that
function's call sites put into them, resolved through any further
forwarding; any other ``*``/``**`` argument passes every parameter it
could reach. Call sites are matched
by the callee's name (``f(...)`` or ``mod.f(...)``), so two public
functions of one name share their call sites.

A parameter whose default is not ``None`` is an option with one value
in use, and fails the scan, when no call site passes it, or when every
call site that passes it passes one literal equal to the default. Make
it a constant, or list it in ``ALLOWED`` with the reason it must stay
settable. A ``None`` default selects a capability or a computed value;
it fails when no call site gives it anything but a literal ``None``
(the capability is off everywhere), or when every call site surely
passes it (its ``None`` branch is unreachable). A public function fails
when no call site names it, unless ``@register`` puts it in the query
registry. A public function under ``operators/`` or ``functions/``
fails when only tests reach it (``unreached``), unless ``TEST_ONLY``
says why.

Run as a script to print the counts and the list.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIB = ROOT / "tempel_spark"

_ABLATION = "tuning keyword scripts/diag_hidden_gold.py sets through inspect.signature"
_SINK = "output setting of a sink, chosen per deployment"
_STATE = "bucket count of the stream state table, fixed when the table is created"
_PROBE = "embedding width; decided with ivf_topk's build-time first() probe (ROADMAP)"


# (module relative to tempel_spark/, function, parameter) -> reason.
ALLOWED = {
    ("operators/context_disambig.py", "disambiguate_occurrences", "seed"): _ABLATION,
    ("operators/context_disambig.py", "disambiguate_occurrences", "sample_per_surface"): _ABLATION,
    ("operators/context_disambig.py", "disambiguate_occurrences", "stop_df"): _ABLATION,
    ("operators/context_disambig.py", "disambiguate_occurrences", "margin"): _ABLATION,
    ("streaming/incremental_dedup.py", "stream_incremental_winnow", "state_parts"): _STATE,
    ("streaming/incremental_er.py", "stream_incremental_er", "state_parts"): _STATE,
    ("operators/topk.py", "ivf_topk", "dim"): _PROBE,
    ("operators/topk.py", "hyperplane_projections", "dim"): _PROBE,
    ("sources/sinks.py", "write_partitioned", "target_file_mb"): _SINK,
    ("sources/sinks.py", "write_partitioned", "fmt"): _SINK,
    ("sources/sinks.py", "write_fanout", "fmt"): _SINK,
    ("sources/sinks.py", "write_bucketed", "fmt"): _SINK,
}

_MEDIA = "media-header decoding no query or pipeline stage reads yet (ROADMAP item 5)"
_DEDUP = "near-dup pair operator; q_ngram_dedup_pairs and q_simhash check its steps, not its blocking"
_EVAL = "evaluation helper a test scores the library's output with"

# (module relative to tempel_spark/, function) -> why only tests run it.
TEST_ONLY = {
    ("functions/multimodal.py", "decode_header"): _MEDIA,
    ("functions/multimodal.py", "attach_media_metadata"): _MEDIA,
    ("functions/multimodal.py", "image_features"): _MEDIA,
    ("functions/multimodal.py", "frame_sample"): _MEDIA,
    ("functions/tokenize.py", "tokenize_udf"): "forward half of the WordPiece round trip; q_detokenize builds its pieces inline",
    ("operators/dedup.py", "ngram_jaccard_dedup"): _DEDUP,
    ("operators/dedup.py", "simhash_dedup"): _DEDUP,
    ("operators/metrics.py", "eval_labeled_pairs"): _EVAL,
    ("operators/metrics.py", "cluster_canonical_names"): "per-cluster display name; no plan names clusters yet",
    ("operators/redirects.py", "strip_redirected"): "redirect exclusion the dataset plans do not apply yet",
    ("operators/scd.py", "build_title_history"): "title-change fold; q_title_scd builds its change table from orders",
    ("operators/topk.py", "recall_at_k"): _EVAL,
}

_UNKNOWN = object()  # a passed value the scan cannot evaluate


def _caller_files() -> list[Path]:
    files = list(LIB.rglob("*.py"))
    for d in ("tests", "scripts", "perfbench"):
        files += (ROOT / d).rglob("*.py")
    files += ROOT.glob("bench*.py")
    files.append(ROOT / "__spark_entry__.py")
    return sorted(set(files))


def _is_none(node: ast.expr | None) -> bool:
    return isinstance(node, ast.Constant) and node.value is None


def _constants(tree: ast.Module) -> dict[str, object]:
    """Top-level ``NAME = <literal>`` assignments of one module."""
    out = {}
    for node in tree.body:
        if isinstance(node, ast.Assign) and len(node.targets) == 1:
            target, value = node.targets[0], node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            target, value = node.target, node.value
        else:
            continue
        if isinstance(target, ast.Name):
            try:
                out[target.id] = ast.literal_eval(value)
            except ValueError:
                pass
    return out


def _value(node: ast.expr, consts: dict[str, object]):
    """The literal a call passes, tagged with its type so that 1, 1.0
    and True differ, or ``_UNKNOWN``."""
    if isinstance(node, ast.Name) and node.id in consts:
        v = consts[node.id]
    else:
        try:
            v = ast.literal_eval(node)
        except ValueError:
            return _UNKNOWN
    return (type(v), v)


def _public_functions():
    """(module, def node, module constants) of every public top-level
    function."""
    for path in sorted(LIB.rglob("*.py")):
        mod = path.relative_to(LIB).as_posix()
        tree = ast.parse(path.read_text())
        consts = _constants(tree)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if not node.name.startswith("_"):
                    yield mod, node, consts


def public_defaults(none: bool):
    """(module, function, parameter, position or None if keyword-only,
    default value) for every ``None`` default of a public top-level
    function if `none`, else for every other default."""
    out = []
    for mod, node, consts in _public_functions():
        a = node.args
        positional = a.posonlyargs + a.args
        first = len(positional) - len(a.defaults)
        named = [(arg, d, first + i) for i, (arg, d) in enumerate(zip(positional[first:], a.defaults))]
        named += [(arg, d, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        for arg, d, pos in named:
            if _is_none(d) == none:
                out.append((mod, node.name, arg.arg, pos, _value(d, consts)))
    return out


@cache
def _calls() -> dict[str, list[tuple[ast.Call, ast.FunctionDef | None, dict]]]:
    """callee name -> (call node, innermost enclosing def, the calling
    module's constants) for every call site."""
    out = defaultdict(list)

    def visit(node, scope, consts):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name is not None:
                    out[name].append((child, scope, consts))
            inner = child if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else scope
            visit(child, inner, consts)

    for path in _caller_files():
        tree = ast.parse(path.read_text())
        visit(tree, None, _constants(tree))
    return out


_MEMO: dict[str, list] = {}
_ACTIVE: set[str] = set()


def bindings(name: str) -> list:
    """What each call of `name` passes, one entry per call (a forwarding
    call counts once per call of its forwarder): (values by position
    and by keyword, first position a ``*`` argument may fill or None,
    whether a ``**`` argument may fill any keyword). A forwarding
    cycle contributes nothing."""
    if name in _MEMO:
        return _MEMO[name]
    if name in _ACTIVE:
        return []
    _ACTIVE.add(name)
    out = []
    for call, scope, consts in _calls().get(name, ()):
        var = scope.args.vararg.arg if scope and scope.args.vararg else None
        kwvar = scope.args.kwarg.arg if scope and scope.args.kwarg else None
        fwd_pos = [
            i for i, a in enumerate(call.args)
            if isinstance(a, ast.Starred) and isinstance(a.value, ast.Name) and a.value.id == var
        ]
        fwd_kw = any(
            kw.arg is None and isinstance(kw.value, ast.Name) and kw.value.id == kwvar
            for kw in call.keywords
        )
        outer = bindings(scope.name) if fwd_pos or fwd_kw else [({}, None, False)]
        for ob, ob_open, ob_any in outer:
            bound, open_from, any_kw = {}, None, False
            for i, a in enumerate(call.args):
                if not isinstance(a, ast.Starred):
                    bound[i] = _value(a, consts)
                    continue
                if i in fwd_pos:
                    n_named = len(scope.args.posonlyargs + scope.args.args)
                    for p, v in ob.items():
                        if isinstance(p, int) and p >= n_named:
                            bound[i + p - n_named] = v
                    if ob_open is not None:
                        open_from = i + max(ob_open - n_named, 0)
                else:
                    open_from = i
                break  # a starred argument ends the known positions
            for kw in call.keywords:
                if kw.arg is not None:
                    bound[kw.arg] = _value(kw.value, consts)
                elif fwd_kw:
                    sa = scope.args
                    named = {a.arg for a in sa.posonlyargs + sa.args + sa.kwonlyargs}
                    bound.update(
                        {k: v for k, v in ob.items() if isinstance(k, str) and k not in named}
                    )
                    any_kw = any_kw or ob_any
                else:
                    any_kw = True
            out.append((bound, open_from, any_kw))
    _ACTIVE.discard(name)
    _MEMO[name] = out
    return out


_ABSENT = object()  # a call that cannot pass the parameter
_MAYBE = object()  # a call whose ``*``/``**`` argument may pass it


def _passed(fn: str, param: str, pos: int | None) -> list:
    """Per call of `fn`: the value it passes for `param`, ``_MAYBE``
    when a ``*``/``**`` argument may or may not fill it, or
    ``_ABSENT``."""
    out = []
    for bound, open_from, any_kw in bindings(fn):
        if pos is not None and pos in bound:
            out.append(bound[pos])
        elif param in bound:
            out.append(bound[param])
        elif any_kw or (pos is not None and open_from is not None and pos >= open_from):
            out.append(_MAYBE)
        else:
            out.append(_ABSENT)
    return out


@cache
def scan() -> tuple[list, list]:
    """(unpassed, restated): (module, function, parameter) of every
    non-``None`` default no call passes, and of every one whose passing
    calls all pass one literal equal to the default."""
    unpassed, restated = [], []
    for mod, fn, param, pos, default in public_defaults(none=False):
        passed = [
            _UNKNOWN if v is _MAYBE else v for v in _passed(fn, param, pos) if v is not _ABSENT
        ]
        key = (mod, fn, param)
        if not passed:
            unpassed.append(key)
        elif default is not _UNKNOWN and all(v == default for v in passed):
            restated.append(key)
    return unpassed, restated


@cache
def scan_none() -> tuple[list, list]:
    """(never, always): (module, function, parameter) of every ``None``
    default that no call gives a value other than a literal ``None``,
    and of every one that each call surely passes."""
    none = (type(None), None)
    never, always = [], []
    for mod, fn, param, pos, _ in public_defaults(none=True):
        passed = _passed(fn, param, pos)
        if all(v is _ABSENT or v == none for v in passed):
            never.append((mod, fn, param))
        elif all(v is not _ABSENT and v is not _MAYBE and v != none for v in passed):
            always.append((mod, fn, param))
    return never, always


def _registered(node: ast.FunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in node.decorator_list
    )


def uncalled() -> list[tuple[str, str]]:
    """(module, function) of every public top-level function that no
    call site names and no ``@register`` puts in the query registry."""
    calls = _calls()
    return [
        (mod, node.name)
        for mod, node, _ in _public_functions()
        if node.name not in calls and not _registered(node)
    ]


_OWNED = ("operators/", "functions/")


def _imports(tree: ast.Module) -> dict[str, tuple[str, str | None]]:
    """Local name -> (module relative to tempel_spark/, imported name,
    or None when the name is the module) of every ``tempel_spark``
    import in the file, function-level ones included."""
    out = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom) and (n.module or "").startswith("tempel_spark."):
            base = n.module.removeprefix("tempel_spark.").replace(".", "/")
            for a in n.names:
                sub = f"{base}/{a.name}.py"
                out[a.asname or a.name] = (sub, None) if (LIB / sub).exists() else (f"{base}.py", a.name)
        elif isinstance(n, ast.Import):
            for a in n.names:
                if a.name.startswith("tempel_spark.") and a.asname:
                    out[a.asname] = (a.name.removeprefix("tempel_spark.").replace(".", "/") + ".py", None)
    return out


def _targets(node: ast.AST, mod: str, local: set[str], imports: dict) -> set[tuple[str | None, str]]:
    """(module, name) of every function `node` calls, or hands to a call
    as an argument (as to ``Series.map`` or ``mapInPandas``): a name
    resolves through the file's imports or its own top-level defs, and
    ``mod.f`` through an imported module; any other ``x.f(...)`` gives
    (None, "f"), a method that any def of that name may be."""
    out = set()
    for n in ast.walk(node):
        if not isinstance(n, ast.Call):
            continue
        for e in (n.func, *n.args, *(k.value for k in n.keywords)):
            e = e.value if isinstance(e, ast.Starred) else e
            if isinstance(e, ast.Name):
                if imports.get(e.id, (None, None))[1] is not None:
                    out.add(imports[e.id])
                elif e.id in local:
                    out.add((mod, e.id))
            elif isinstance(e, ast.Attribute):
                v = getattr(e.value, "id", None)
                if v in imports and imports[v][1] is None:
                    out.add((imports[v][0], e.attr))
                elif e is n.func:
                    out.add((None, e.attr))
    return out


@cache
def unreached() -> list[tuple[str, str]]:
    """(module, function) of every public top-level function under
    ``operators/`` or ``functions/`` that no root reaches. The roots
    are everything else in ``tempel_spark/`` (plans, registered
    queries, streaming, sources, ``synth``, ``session``), the import-time
    code of the operator modules, ``scripts/``, ``perfbench/``,
    ``bench*.py`` and ``__spark_entry__.py``; tests are not roots. A
    reached function or class reaches what its body calls (``_targets``);
    a method call reaches every def of that name under ``operators/``
    and ``functions/``."""
    edges: dict[tuple[str, str], set] = {}
    reached: set = set()
    owned = []
    for path in _caller_files():
        if path.is_relative_to(ROOT / "tests"):
            continue
        tree = ast.parse(path.read_text())
        mod = path.relative_to(LIB).as_posix() if path.is_relative_to(LIB) else ""
        imports = _imports(tree)
        defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        local = {n.name for n in tree.body if isinstance(n, defs)}
        if not mod.startswith(_OWNED):
            reached |= _targets(tree, mod, local, imports)
            continue
        for node in tree.body:
            if isinstance(node, defs):
                edges[(mod, node.name)] = _targets(node, mod, local, imports)
                if not isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                    owned.append((mod, node.name))
            else:
                reached |= _targets(node, mod, local, imports)
    by_name = defaultdict(set)
    for key in edges:
        by_name[key[1]].add(key)
    seen: set = set()
    todo = list(reached)
    while todo:
        m, name = todo.pop()
        for key in by_name[name] if m is None else {(m, name)}:
            if key not in seen:
                seen.add(key)
                todo.extend(edges.get(key, ()))
    return [k for k in owned if k not in seen]


def test_every_defaulted_parameter_is_passed_somewhere():
    missing = [k for k in scan()[0] if k not in ALLOWED]
    assert not missing, (
        f"{len(missing)} defaulted parameters no caller passes; make each a "
        "constant or allowlist it with a reason:\n"
        + "\n".join(f"  {m}:{f}({p})" for m, f, p in missing)
    )


def test_no_caller_only_restates_a_default():
    same = [k for k in scan()[1] if k not in ALLOWED]
    assert not same, (
        f"{len(same)} defaulted parameters every caller passes at their "
        "default; make each a constant and drop the restated arguments:\n"
        + "\n".join(f"  {m}:{f}({p})" for m, f, p in same)
    )


def test_every_none_default_selects_something():
    dead = [(m, f, p, why) for why, rows in zip(("never set", "always set"), scan_none())
            for m, f, p in rows if (m, f, p) not in ALLOWED]
    assert not dead, (
        f"{len(dead)} None-defaulted parameters whose None branch is the only "
        "one reached, or never reached; drop the parameter or make it required:\n"
        + "\n".join(f"  {m}:{f}({p}) {why}" for m, f, p, why in dead)
    )


def test_every_public_function_is_called():
    missing = uncalled()
    assert not missing, (
        f"{len(missing)} public functions nothing calls; delete each:\n"
        + "\n".join(f"  {m}:{f}" for m, f in missing)
    )


def test_every_operator_runs_outside_tests():
    missing = [k for k in unreached() if k not in TEST_ONLY]
    stale = set(TEST_ONLY) - set(unreached())
    assert not missing, (
        f"{len(missing)} operators and functions only tests run; call each "
        "from a query, plan or script, delete it, or allowlist it with a reason:\n"
        + "\n".join(f"  {m}:{f}" for m, f in missing)
    )
    assert not stale, f"allowlisted as test-only but run elsewhere or gone: {sorted(stale)}"


def test_allowlist_names_real_unpassed_parameters():
    unpassed, restated = scan()
    never, always = scan_none()
    stale = set(ALLOWED) - set(unpassed) - set(restated) - set(never) - set(always)
    assert not stale, f"allowlisted but varied or gone: {sorted(stale)}"


if __name__ == "__main__":
    n_all = sum(
        len(n.args.defaults) + sum(d is not None for d in n.args.kw_defaults)
        for _, n, _ in _public_functions()
    )
    unpassed, restated = scan()
    never, always = scan_none()
    flagged = unpassed + restated + never + always
    print(f"defaulted: {n_all} (non-None {len(public_defaults(none=False))})  "
          f"unpassed: {len(unpassed)}  restated: {len(restated)}  "
          f"None never set: {len(never)}  None always set: {len(always)}  "
          f"allowlisted: {sum(r in ALLOWED for r in flagged)}  uncalled: {len(uncalled())}  "
          f"test-only: {len(unreached())}")
    for m, f in uncalled():
        print(f"uncalled {m}:{f}")
    for m, f in unreached():
        print(f"test-only {m}:{f}{'  [allowed]' if (m, f) in TEST_ONLY else ''}")
    for tag, rows in (("unpassed", unpassed), ("restated", restated),
                      ("none-never", never), ("none-always", always)):
        for m, f, p in rows:
            print(f"{tag} {m}:{f}({p}){'  [allowed]' if (m, f, p) in ALLOWED else ''}")
