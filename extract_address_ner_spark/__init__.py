"""extract_address_ner_spark — PySpark-native KG-construction pipeline.

A from-scratch, Spark-first re-expression of the query/data-processing
capabilities of the reference repo ``hyeonhobyun/extract-address-ner``
(Korean-address NER service): distributed triple extraction (BIO tagging +
span merge), address canonicalization against a broadcast admin-region
hierarchy, fuzzy variant matching (MinHash-LSH), skew-aware entity linking,
and graph materialization with per-stage lineage from the write's Observation
and checkpoint-resumable stages.

Reference semantics are cited per-module as ``reference: <file>:<lines>``
into the read-only snapshot at /root/reference/.
"""

__version__ = "0.1.0"

LABEL_O = "O"
LABEL_B = "B-ADDRESS"
LABEL_I = "I-ADDRESS"

# Label vocabulary — must be identical across all stages.
# reference: app/services/ml_model.py:21, app/services/train_service.py:487-490
LABEL_TO_ID = {LABEL_O: 0, LABEL_B: 1, LABEL_I: 2}
ID_TO_LABEL = {v: k for k, v in LABEL_TO_ID.items()}

# Confidence constants for the deterministic lexicon tagger, mirroring the
# reference's hard-coded validation confidences.
# reference: app/utils/preprocess.py:291-293 (0.85 valid / 0.15 invalid)
CONF_ADDRESS = 0.85
CONF_OTHER = 0.15
