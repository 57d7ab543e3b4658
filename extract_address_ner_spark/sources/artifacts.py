"""Tagger artifact lifecycle (reference S9/S10/S8 analogues).

The reference saves model dirs (``save_pretrained``, ml_model.py:106-119),
loads them with a fallback chain to the pretrained base
(ml_model.py:258-305), and records versions + metrics in a DB table
(db_service.py:95-131). Here the "model" is the tagger configuration — the
admin-region lexicon + continuation regex (and, when torch exists, a neural
checkpoint path) — saved as a JSON artifact dir with a ``_SUCCESS`` marker
(same commit semantics as pipeline stages) and a ``versions.jsonl`` registry.

The fallback chain (reference O5) is preserved: load a named version → fall
back to the latest committed version → fall back to the built-in lexicon.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field


@dataclass
class TaggerArtifact:
    version: str
    start_regions: list[str]
    cont_regex: str
    metrics: dict[str, float] = field(default_factory=dict)
    neural_checkpoint: str | None = None


def builtin_artifact(version: str = "builtin") -> TaggerArtifact:
    from .. import oracle

    return TaggerArtifact(
        version=version,
        start_regions=sorted(oracle.START_REGIONS),
        cont_regex=oracle.CONT_RE.pattern,
    )


def save_artifact(base_dir: str, artifact: TaggerArtifact) -> str:
    """Write the artifact dir + commit marker + registry row. Returns the
    artifact path."""
    d = os.path.join(base_dir, artifact.version)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "tagger.json"), "w") as f:
        json.dump(asdict(artifact), f, ensure_ascii=False, indent=1)
    with open(os.path.join(d, "_SUCCESS"), "w"):
        pass
    with open(os.path.join(base_dir, "versions.jsonl"), "a") as f:
        f.write(json.dumps({"version": artifact.version,
                            "metrics": artifact.metrics}) + "\n")
    return d


def list_versions(base_dir: str, limit: int = 10) -> list[dict]:
    """Latest-N registry rows (reference get_model_versions,
    db_service.py:108-126)."""
    path = os.path.join(base_dir, "versions.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return rows[::-1][:limit]


def load_artifact(base_dir: str, version: str | None = None) -> TaggerArtifact:
    """Load with the reference's fallback chain (ml_model.py:258-305):
    requested version → latest committed → built-in lexicon."""
    candidates = []
    if version:
        candidates.append(version)
    candidates += [r["version"] for r in list_versions(base_dir)]
    for v in candidates:
        d = os.path.join(base_dir, v)
        if os.path.exists(os.path.join(d, "_SUCCESS")):
            with open(os.path.join(d, "tagger.json")) as f:
                return TaggerArtifact(**json.load(f))
    return builtin_artifact()
