"""Poly-mode DB detection as an oracle-checked distributed query.

``det_polygons`` decodes the deterministic curved-text fixture maps
(``corpus.poly_map_record``) with the poly-mode DB kernel
(``kernels/db_poly.db_postprocess_poly`` — box_type="poly" +
use_dilation, ``toddleocr/postprocess/db.py:38-84,213-216``) inside one
Arrow ``mapInArrow`` pass and emits every output polygon vertex as an
integer row, hash-comparable against the sequential golden
(``golden.py`` -> ``golden_det_polygons.parquet``).

Plan shape (designed for 10^12 docs): the fixture ids are an embarrassingly
parallel ``spark.range``, one partition per core — at production scale
the same UDF body runs over the media-store prob maps
partition-by-partition with zero shuffle; the only exchange here is the
final presentation orderBy, which the driver's hash-compare requires,
over the persisted Python output (its sampling job reruns no Python
stage). Output columns are all
bigint (coordinates are integral after the reference's round+clip;
score is fixed-point micro units), so the cross-engine hash has no
float surface at all.
"""

from __future__ import annotations

from paddleocr_spark.sources.tables import table_rows

__all__ = ["det_polygons"]


def det_polygons(spark, sf_dir: str, seed: int = 42):
    from paddleocr_spark.corpus import (
        POLY_SHAPE_LIST,
        poly_map_count,
        poly_map_record,
    )
    from paddleocr_spark.functions.udfs import row_batch
    from paddleocr_spark.kernels.db_poly import db_postprocess_poly
    from paddleocr_spark.operators._cache import eager_persist

    n_maps = poly_map_count(table_rows(sf_dir, "documents"))
    schema = ("map_id long, poly_idx long, point_idx long, "
              "x long, y long, score_micro long")
    to_batch = row_batch(schema)

    def gen(batches):
        for b in batches:
            rows = []
            for mid in b.column("id").to_pylist():
                pm = poly_map_record(mid, seed)
                polys, scores = db_postprocess_poly(pm, POLY_SHAPE_LIST)
                for pi, (poly, sc) in enumerate(zip(polys, scores)):
                    smicro = int(round(sc * 1e6))
                    rows.extend((mid, pi, ki, int(x), int(y), smicro)
                                for ki, (x, y) in enumerate(poly.tolist()))
            yield to_batch(rows)

    ids = spark.range(n_maps, numPartitions=min(
        n_maps, spark.sparkContext.defaultParallelism))
    polys = eager_persist(ids.mapInArrow(gen, schema), materialize=False)
    return polys.orderBy("map_id", "poly_idx", "point_idx")
