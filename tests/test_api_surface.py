"""The library runs one configuration: no defaulted parameter goes unpassed.

An AST scan of every public top-level function under ``tempel_spark/``
against every call site in ``tempel_spark/``, ``tests/``, ``scripts/``,
``perfbench/`` and ``bench*.py``. A call passes a parameter by position
or by keyword. A call that forwards its enclosing function's own
``*args``/``**kwargs`` passes what that function's call sites put into
them, resolved through any further forwarding; any other ``*``/``**``
argument passes every parameter it could reach. Call sites are matched
by the callee's name (``f(...)`` or ``mod.f(...)``), so two public
functions of one name share their call sites.

A parameter whose default is not ``None`` is an option with one value
in use, and fails the scan, when no call site passes it, or when every
call site that passes it passes one literal equal to the default. Make
it a constant, or list it in ``ALLOWED`` with the reason it must stay
settable. ``None`` defaults select a capability or a computed value and
are out of the scan.

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


def _held(tests: str) -> str:
    return f"{tests} pass the default explicitly; the parameter goes with those arguments"


# (module relative to tempel_spark/, function, parameter) -> reason.
ALLOWED = {
    ("operators/context_disambig.py", "disambiguate_occurrences", "seed"): _ABLATION,
    ("operators/context_disambig.py", "disambiguate_occurrences", "sample_per_surface"): _ABLATION,
    ("operators/context_disambig.py", "disambiguate_occurrences", "stop_df"): _ABLATION,
    ("operators/context_disambig.py", "disambiguate_occurrences", "margin"): _ABLATION,
    ("streaming/incremental_dedup.py", "stream_incremental_winnow", "state_parts"): (
        "bucket count of the stream state table, fixed when the table is created"
    ),
    ("sources/sinks.py", "write_partitioned", "target_file_mb"): _SINK,
    ("sources/sinks.py", "write_partitioned", "fmt"): _SINK,
    ("sources/sinks.py", "write_fanout", "fmt"): _SINK,
    ("sources/sinks.py", "write_bucketed", "fmt"): _SINK,
    ("functions/multimodal.py", "frame_sample", "every_n"): _held("test_new_operators"),
    ("operators/asof.py", "yearly_snapshots", "start_year"): _held("test_ten_snapshots"),
    ("operators/asof.py", "yearly_snapshots", "n"): _held("test_ten_snapshots"),
    ("operators/asof.py", "asof_stable_version", "rev_ts_col"): _held("test_asof_reference_fold"),
    ("operators/dedup.py", "repeated_passages", "n"): _held("test_new_operators"),
    ("operators/dedup.py", "repeated_passages", "min_count"): _held("test_new_operators"),
    ("operators/dedup.py", "passage_dedup", "n"): _held("test_new_operators"),
    ("operators/dedup.py", "passage_dedup", "min_count"): _held("test_new_operators"),
    ("operators/dedup.py", "winnow_similar_pairs", "id_col"): _held("test_incremental_dedup"),
    ("operators/dedup.py", "winnow_similar_pairs", "text_col"): _held("test_incremental_dedup"),
    ("operators/pq.py", "pq_train", "n_iter"): _held("test_pq_distributed_queries"),
    ("operators/pq.py", "ivfpq_topk", "nprobe"): _held("test_pq_distributed_queries"),
    ("operators/pq.py", "ivfpq_topk", "m"): _held("test_pq_distributed_queries"),
    ("operators/pq.py", "ivfpq_topk", "k_pq"): _held("test_pq_distributed_queries"),
    ("operators/topk.py", "quantized_dot_topk", "k"): _held("test_new_operators"),
    ("plans/dataset_creator.py", "create_new_entities_dataset", "subsets"): _held("test_dataset_creator"),
    ("sources/sinks.py", "write_partitioned", "partition_by"): _held("test_sources_tokenize"),
    ("streaming/incremental_er.py", "stream_incremental_er", "state_parts"): _held("test_upsert_catalog"),
    ("streaming/sessionize.py", "stream_sessionize", "gap_minutes"): _held("test_stateful_streaming"),
}

_UNKNOWN = object()  # a passed value the scan cannot evaluate


def _caller_files() -> list[Path]:
    files = list(LIB.rglob("*.py"))
    for d in ("tests", "scripts", "perfbench"):
        files += (ROOT / d).rglob("*.py")
    files += ROOT.glob("bench*.py")
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


def public_defaults():
    """(module, function, parameter, position or None if keyword-only,
    default value) for every non-``None`` default of a public top-level
    function."""
    out = []
    for mod, node, consts in _public_functions():
        a = node.args
        positional = a.posonlyargs + a.args
        first = len(positional) - len(a.defaults)
        for i, (arg, d) in enumerate(zip(positional[first:], a.defaults)):
            if not _is_none(d):
                out.append((mod, node.name, arg.arg, first + i, _value(d, consts)))
        for arg, d in zip(a.kwonlyargs, a.kw_defaults):
            if d is not None and not _is_none(d):
                out.append((mod, node.name, arg.arg, None, _value(d, consts)))
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


@cache
def scan() -> tuple[list, list]:
    """(unpassed, restated): (module, function, parameter) of every
    non-``None`` default no call passes, and of every one whose passing
    calls all pass one literal equal to the default."""
    unpassed, restated = [], []
    for mod, fn, param, pos, default in public_defaults():
        passed = []
        for bound, open_from, any_kw in bindings(fn):
            if pos is not None and pos in bound:
                passed.append(bound[pos])
            elif param in bound:
                passed.append(bound[param])
            elif any_kw or (pos is not None and open_from is not None and pos >= open_from):
                passed.append(_UNKNOWN)
        key = (mod, fn, param)
        if not passed:
            unpassed.append(key)
        elif default is not _UNKNOWN and all(v == default for v in passed):
            restated.append(key)
    return unpassed, restated


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


def test_allowlist_names_real_unpassed_parameters():
    unpassed, restated = scan()
    stale = set(ALLOWED) - set(unpassed) - set(restated)
    assert not stale, f"allowlisted but varied or gone: {sorted(stale)}"


if __name__ == "__main__":
    n_all = sum(
        len(n.args.defaults) + sum(d is not None for d in n.args.kw_defaults)
        for _, n, _ in _public_functions()
    )
    unpassed, restated = scan()
    print(f"defaulted: {n_all} (non-None {len(public_defaults())})  "
          f"unpassed: {len(unpassed)}  restated: {len(restated)}  "
          f"allowlisted: {sum(r in ALLOWED for r in unpassed + restated)}")
    for tag, rows in (("unpassed", unpassed), ("restated", restated)):
        for m, f, p in rows:
            print(f"{tag} {m}:{f}({p}){'  [allowed]' if (m, f, p) in ALLOWED else ''}")
