"""planetiler_spark — a from-scratch PySpark-native tiling + spatial-join engine.

Re-expresses the semantics of Planetiler (reference: /root/reference, Java) as an
idiomatic Spark pipeline:

  read sources -> profile flatMap (Arrow UDFs) -> explode per zoom/tile
  -> exact range exchange on analytic partition tokens + per-partition sort
     (== reference external merge sort; operators/partitioning.py)
  -> consecutive same-tile runs reduced in mapInArrow
     (== reference FeatureGroup.groupIntoTiles + TileArchiveWriter)
  -> tiles sink (parquet / files / stats)

All geometry + tile math is vectorized numpy inside Arrow-batched pandas UDFs
(no per-row Python); all relational work is DataFrame/SQL so Catalyst handles
pushdown, pruning, folding, and the external sort.

Reference lineage is cited per-module as `file:line` of /root/reference.
"""

__version__ = "0.1.0"
