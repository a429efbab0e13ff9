"""Dimension / input-stream configuration.

Reimplements the semantics of the reference's config-driven schema
(``application.conf`` + ``config/AppConfig.scala:44-81`` in
/root/reference/online-ad-rca): each dimension has a name, a value
type, a parent dimension (``root`` for top level) and a group; levels
are derived from the parent chain by a fixpoint (parent==root => 1).
"""

from __future__ import annotations

from dataclasses import dataclass, field

ROOT = "root"


@dataclass(frozen=True)
class DimensionSpec:
    name: str
    group: str
    parent: str = ROOT  # parent dimension name, or "root"
    value_type: str = "string"  # string | int | bool


@dataclass
class EngineConfig:
    """Analog of the reference's input_stream config block.

    timestamp_field / value_field name columns of the input DataFrame;
    dimensions declare the attribute hierarchy used by windowed
    breakdowns and RCA (reference: application.conf:5-33).
    """

    timestamp_field: str
    value_field: str
    dimensions: list[DimensionSpec] = field(default_factory=list)
    summary_size: int = 5  # reference: root_cause_analysis.summary_size

    def __post_init__(self) -> None:
        self._by_name = {d.name: d for d in self.dimensions}
        self.levels = self._derive_levels()

    def _derive_levels(self) -> dict[str, int]:
        """Fixpoint level derivation (AppConfig.scala:49-72): a dimension
        whose parent is root has level 1; otherwise 1 + parent's level."""
        levels: dict[str, int] = {}
        pending = list(self.dimensions)
        while pending:
            progressed = False
            rest = []
            for d in pending:
                if d.parent == ROOT:
                    levels[d.name] = 1
                    progressed = True
                elif d.parent in levels:
                    levels[d.name] = levels[d.parent] + 1
                    progressed = True
                else:
                    rest.append(d)
            pending = rest
            if not progressed and pending:
                raise ValueError(
                    f"dimension hierarchy has a cycle or missing parent: "
                    f"{[d.name for d in pending]}"
                )
        return levels

    def spec(self, name: str) -> DimensionSpec:
        return self._by_name[name]

    def level(self, name: str) -> int:
        return self.levels[name]

    def group(self, name: str) -> str:
        return self._by_name[name].group

    @property
    def dimension_names(self) -> list[str]:
        return [d.name for d in self.dimensions]

    def hierarchy_pairs(self) -> list[tuple[str, str]]:
        """(child, parent) dimension-name pairs, omitting root parents —
        the reference omits root pairs too (DimensionHierarchiesBuilder
        .scala:9-16); level-1 parents resolve to the window total."""
        return [
            (d.name, d.parent) for d in self.dimensions if d.parent != ROOT
        ]


def config_from_dict(d: dict) -> EngineConfig:
    """Parse the reference's application.conf input_stream shape
    (src/main/resources/application.conf:5-33, read by
    AppConfig.scala:74-81):

        {"timestamp_field": ..., "value_field": ...,
         "dimensions": {
             "names": [...],
             "definitions": {name: {"value_type": ...,
                                    "parent_dimension": ..., "group": ...}}},
         "summary_size": 5}

    `names` fixes the dimension order (the reference iterates
    DIMENSION_NAMES); levels are derived by the same fixpoint."""
    dims_cfg = d["dimensions"]
    defs = dims_cfg["definitions"]
    dims = [
        DimensionSpec(
            name,
            group=defs[name]["group"],
            parent=defs[name].get("parent_dimension", ROOT),
            value_type=defs[name].get("value_type", "string"),
        )
        for name in dims_cfg["names"]
    ]
    return EngineConfig(
        timestamp_field=d["timestamp_field"],
        value_field=d["value_field"],
        dimensions=dims,
        summary_size=int(d.get("summary_size", 5)),
    )


def web_pages_parent_value(child_name: str, child_value: str) -> str:
    """Parent dimension value derived from the child's, for the web
    pages hierarchy (tld <- domain <- host). Twin of the column
    derivations in functions/text.py::url_dimension_cols; module-level
    so TailConfig stays picklable in the tail-state snapshot.

    Divergence note (ADVICE r2): the column form derives url_tld from
    the HOST (substring_index(host, '.', -1)), so for a single-label
    host it yields domain='' / tld='<host>' — unrecoverable from the
    child value '' alone. This twin therefore requires multi-label
    hosts; the pages generator only emits h{i}.site{j}.{tld} 3-label
    hosts (sources/pages.py::host_parts, invariant asserted in
    tests/test_pages_pipeline.py), and a ValueError guards the
    unrepresentable case instead of silently diverging."""
    if child_name == "url_host":
        return child_value.split(".", 1)[1] if "." in child_value else ""
    if child_name == "url_domain":
        if child_value == "":
            raise ValueError(
                "url_domain='' comes from a single-label host, whose tld "
                "is not derivable from the domain value; the pages "
                "generator never emits single-label hosts"
            )
        return child_value.rsplit(".", 1)[-1]
    raise KeyError(f"no parent derivation for dimension {child_name!r}")


def modulo_parent_value(mod: int, child_name: str, child_value: str) -> str:
    """Generic bucket -> coarser-band parent derivation (child value
    interpreted as int, parent = child % mod). Use via
    functools.partial(modulo_parent_value, mod) — partials of
    module-level functions pickle cleanly."""
    return str(int(child_value) % mod)


def web_pages_config() -> EngineConfig:
    """The graft input config (SURVEY.md §1.4): Common-Crawl-style pages
    with content/traffic/time dimension groups, hierarchy depth <= 3 —
    the same shape as the reference's spatial/delivery config
    (application.conf:10-31)."""
    return EngineConfig(
        timestamp_field="warc_ts",
        value_field="text_len",
        dimensions=[
            DimensionSpec("lang", group="content", parent=ROOT),
            DimensionSpec("url_tld", group="traffic", parent=ROOT),
            DimensionSpec("url_domain", group="traffic", parent="url_tld"),
            DimensionSpec("url_host", group="traffic", parent="url_domain"),
            DimensionSpec("warc_ts_bucket", group="time", parent=ROOT),
        ],
    )


def events_config() -> EngineConfig:
    """Config over the driver-generated ``events`` table
    (/root/testdata/sf*/events.parquet) used for DuckDB-oracle checks."""
    return EngineConfig(
        timestamp_field="ts",
        value_field="value",
        dimensions=[
            DimensionSpec("event_type", group="type", parent=ROOT),
            DimensionSpec("user_bucket", group="user", parent=ROOT),
        ],
    )
