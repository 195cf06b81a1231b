"""Spans around every call into the engine's layers, for the traced run.

:meth:`Tracer.install` replaces each layer's public function, in every
module that calls it by name, with a wrapper that records one span per
call.  A span sets the ``spark.jobGroup.id`` local property to its own id,
so the event log ties each job to the span that submitted it
(see eventlog.py).  Spans nest: a layer's self time is its wall time minus
the time of the layer calls made inside it.

Spark evaluates lazily, so a layer function that returns a DataFrame would
otherwise hand its work to whichever layer first runs an action on the
result.  In the traced run the wrapper therefore materialises
(``localCheckpoint(eager=True)``) the frames a layer receives, in the
caller's span, and the frame it returns, in its own span.  That is part of
the tracing overhead, and the traced run checks that its output
fingerprint equals the untraced pass's.

Spans are kept in memory and read once the run ends.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import time
from dataclasses import dataclass, field

_P = "osm_wikidata_spark."
_PIPE, _INCR = _P + "plans.pipeline", _P + "streaming.incremental"
_DEDUP, _COMP = _P + "operators.dedup", _P + "operators.components"

# layer name -> (module, function) call sites the wrappers replace.  A
# function imported into another module by name is replaced there too.
LAYERS: dict[str, list[tuple[str, str]]] = {
    "pipeline.extract": [(_PIPE, "extract_entities"), (_INCR, "extract_entities")],
    "blocking": [
        (_PIPE, "build_blocks"), (_PIPE, "salted_pair_join"),
        (_INCR, "build_blocks"), (_INCR, "salted_pair_join"),
    ],
    "pipeline.score": [(_PIPE, "score_pairs"), (_INCR, "score_pairs")],
    "components": [
        (_PIPE, "connected_components"), (_COMP, "connected_components"),
        (_INCR, "incremental_components"),
    ],
    "checkpoint": [(_PIPE, "stage")],
    "audit": [(_PIPE, "append_audit")],
    "incremental": [(_INCR, "incremental_edges_batch")],
    "dedup.minhash": [(_DEDUP, "minhash_lsh_pairs")],
    "dedup.simhash": [(_DEDUP, "simhash_near_dups")],
    "similarity.semdedup": [(_P + "operators.similarity", "semdedup")],
}

# layers whose frames are not materialised at the span boundary: stage()
# returns its stored output, and append_audit's input is its own lazy
# metric frame
NOT_MATERIALISED = {"checkpoint", "audit"}


def _eager(value):
    from pyspark.sql import DataFrame

    if isinstance(value, DataFrame):
        return value.localCheckpoint(eager=True)
    return value


def _chain_len(args, kwargs) -> int:
    """Generations in the state chain once an ingest call has committed."""
    from osm_wikidata_spark.streaming import incremental

    state_dir = args[2] if len(args) > 2 else kwargs["state_dir"]
    return len(incremental._chain(state_dir))


# layer -> what to note after each call (the state the call left behind)
AFTER = {"incremental": _chain_len}

# calls recorded (arguments and result) without a span of their own
CAPTURED = [(_DEDUP, "cap_buckets")]


@dataclass
class Call:
    fn: str
    args: tuple
    kwargs: dict
    out: object
    note: object = None


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    pass_no: int
    t0: float
    t1: float = 0.0
    calls: list = field(default_factory=list)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._saved: list[tuple[object, str, object]] = []
        self.pass_no = -1

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            f"span-{next(self._ids)}", name, parent.id if parent else None,
            self.pass_no, time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", sp.id)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", parent.id if parent else None
            )

    def _layer_wrapper(self, layer: str, fn_name: str, fn):
        def wrapper(*args, **kwargs):
            if layer not in NOT_MATERIALISED:
                # lazy inputs are the caller's work: compute them in the
                # caller's span before this layer's span opens
                args = tuple(_eager(a) for a in args)
                kwargs = {k: _eager(v) for k, v in kwargs.items()}
            with self.span(layer) as sp:
                out = fn(*args, **kwargs)
                if layer not in NOT_MATERIALISED:
                    out = _eager(out)
                note = AFTER[layer](args, kwargs) if layer in AFTER else None
                sp.calls.append(Call(fn_name, args, kwargs, out, note))
            return out

        return wrapper

    def _capture_wrapper(self, fn_name: str, fn):
        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            if self._stack:
                self._stack[-1].calls.append(Call(fn_name, args, kwargs, out))
            return out

        return wrapper

    def _replace(self, module_name: str, attr: str, make) -> None:
        module = importlib.import_module(module_name)
        original = getattr(module, attr)
        self._saved.append((module, attr, original))
        setattr(module, attr, make(original))

    def install(self) -> None:
        for layer, sites in LAYERS.items():
            for module_name, attr in sites:
                self._replace(
                    module_name, attr,
                    lambda fn, layer=layer, attr=attr: self._layer_wrapper(layer, attr, fn),
                )
        for module_name, attr in CAPTURED:
            self._replace(
                module_name, attr, lambda fn, attr=attr: self._capture_wrapper(attr, fn)
            )

    def uninstall(self) -> None:
        while self._saved:
            module, attr, original = self._saved.pop()
            setattr(module, attr, original)

    def calls(self, pass_no: int, layer: str, fn: str | None = None):
        """Every recorded call into ``layer`` during pass ``pass_no``."""
        for sp in self.spans:
            if sp.pass_no == pass_no and sp.name == layer:
                for c in sp.calls:
                    if fn is None or c.fn == fn:
                        yield sp, c
