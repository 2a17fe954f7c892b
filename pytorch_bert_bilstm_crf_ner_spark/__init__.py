"""PySpark-native knowledge-graph construction engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo `taishan1994/pytorch_bert_bilstm_crf_ner` (a single-process
BERT-BiLSTM-CRF sequence-labeling toolkit): per-turn entity-mention tagging
(CRF Viterbi decode + BIO/BIOES span decoding), entity linking against a
broadcast dictionary, connected-components canonicalization, and windowed
co-occurrence relation extraction emitting (subj, pred, obj) triples into
partitioned graph tables.

Layout
------
- ``core/``       pure, Spark-free functions (Viterbi, BIOES FSM, sentence
                  cut, pairing) shared by the distributed pipeline and the
                  single-process parity oracle.
- ``sources/``    table derivations / synthetic generators (transcripts,
                  entity dictionary) and the reference's mid_data corpus,
                  the evaluation job's input.
- ``operators/``  DataFrame-level operators (tagging UDF, linking,
                  canonicalization, relations, dedup, similarity).
- ``functions/``  column-expression helpers (text analysis, hashing).
- ``plans/``      session builder + end-to-end pipeline assembly with
                  checkpoint/lineage resume.
- ``streaming/``  Structured Streaming ingest (optional surface).
"""

__version__ = "0.1.0"
