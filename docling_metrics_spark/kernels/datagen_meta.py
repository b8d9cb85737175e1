"""Shared constants between datagen and operators."""
from docling_metrics_spark.datagen import CATEGORY_NAMES, PAGE_H, PAGE_W

N_CATEGORIES = len(CATEGORY_NAMES)

#: The TORE raster: every page is rasterized at half the datagen page, the
#: size ``plans.queries._scale_boxes_half`` scales the boxes to.
TORE_PAGE_W, TORE_PAGE_H = PAGE_W // 2, PAGE_H // 2
TORE_PIXELS = TORE_PAGE_W * TORE_PAGE_H
