"""YAML pipeline configuration (reference query_db/config.py:5-11 +
config_sample.yaml shape, generalized to the web-page pipeline).

Column mapping, linkage thresholds, org-name variants and every ER
setting are file-configurable; everything has the reference's defaults
(constants.py:19-22)."""

from __future__ import annotations

import inspect
from dataclasses import dataclass, field

import yaml

from ccer.operators.scoring import ScoringConfig
from ccer.plans.pipeline import PipelineConfig

YAML_ALIASES = {"blocking_passes": "passes", "scorer": "backend"}


def _params(cls) -> set[str]:
    return set(inspect.signature(cls).parameters) - {"scoring"}


@dataclass
class CcerConfig:
    """Column mapping, linkage and entity settings, plus ``pipeline``, the
    ER settings. Those have one definition, ``PipelineConfig`` and its
    ``ScoringConfig``: ``from_yaml`` hands every YAML key that names one
    of their parameters to that constructor. ``blocking_passes`` and
    ``scorer`` are the YAML spellings of ``passes`` and ``backend``, YAML
    lists become tuples, and an unknown key raises ``ValueError``."""

    # input column mapping (config_sample.yaml:9-12 analog)
    column_mapping: dict = field(default_factory=dict)
    # linkage (constants.py:21, config_sample.yaml:21)
    name_threshold: float = 0.85
    input_name_style: str = "auto"
    reference_name_style: str = "auto"
    author_separator: str | None = None
    # entity validation (constants.py:22)
    entity_threshold: float = 0.85
    organization_names: list = field(default_factory=list)
    # the ER pipeline's settings, scoring included
    pipeline: PipelineConfig = field(default_factory=PipelineConfig)

    @classmethod
    def from_yaml(cls, path: str) -> "CcerConfig":
        with open(path) as fh:
            raw = yaml.safe_load(fh) or {}
        own_keys = set(cls.__dataclass_fields__) - {"pipeline"}
        own = {k: v for k, v in raw.items() if k in own_keys}
        er = {
            YAML_ALIASES.get(k, k): tuple(v) if isinstance(v, list) else v
            for k, v in raw.items()
            if k not in own_keys
        }
        scoring_keys, pipeline_keys = _params(ScoringConfig), _params(PipelineConfig)
        unknown = sorted(set(er) - scoring_keys - pipeline_keys)
        if unknown:
            raise ValueError(f"unknown config keys in {path}: {unknown}")
        scoring = {k: v for k, v in er.items() if k in scoring_keys}
        pipeline = {k: v for k, v in er.items() if k in pipeline_keys}
        return cls(
            **own,
            pipeline=PipelineConfig(**pipeline, scoring=ScoringConfig(**scoring)),
        )

    def apply_column_mapping(self, df):
        """Rename input columns per ``column_mapping`` ({source: target})
        so arbitrarily-named page tables fit the pipeline's schema."""
        for src, dst in (self.column_mapping or {}).items():
            if src in df.columns:
                df = df.withColumnRenamed(src, dst)
        return df
