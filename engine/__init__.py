"""spark-geotile: a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the operator surface of GDAL/OGR (reference: rashadkm/gdal_svn,
GDAL 2.0.0-dev) as distributed DataFrame operators over tables of
Common-Crawl-style web pages ``(url, warc_ts, html, text, lang)``.

Not a port: the reference's single-machine iterators / chunk loops / thread
pools are re-designed as idiomatic Spark — vectorized web-mercator + quadkey
cell encoding in pandas/Arrow UDFs, broadcast-vs-shuffle point-in-polygon
joins with bbox + cell-prefix pruning, kNN via cell-ring expansion, tile
pyramids as partitioned tables with checkpoint/resume, explicit skew
handling, and an OGR-SQL semantics compatibility layer.

Modules
-------
tiles     web-mercator / geodetic tile math + quadkeys  (gdal2tiles.py:205-318)
geom      pure-numpy WKB + vectorized point-in-polygon  (ogr/ogrgeometry.cpp)
extract   deterministic, byte-exact html→text extraction
fixtures  seeded synthetic pages / gazetteer / polygons generators
geotag    text → (lon, lat) broadcast gazetteer join    (ogr/ogr_geocoding.cpp)
joins     broadcast + shuffle PIP joins, salting, kNN   (ogrlayer.cpp:1954+)
raster    density burn, pyramid reduce (avg/mode/gauss), GDAL checksum
sqlcompat OGR SQL expression semantics                  (ogr/swq_op_general.cpp)
ogrsql    OGR SQL dialect compiler: SQL string → DataFrame
clip      exact polygon overlay kernel (triangulation + convex clipping)
algebra   distributed layer algebra (Intersection..Erase)
predicates polygon spatial predicates (DE-9IM via overlay areas)
polygonize raster components → polygon rings with holes
components connected components, sieve filter           (alg/gdalsievefilter.cpp)
proximity exact EDT + nodata fill over the halo exchange (alg/gdalproximity.cpp)
contour   marching squares + polyline stitching         (alg/contour.cpp)
focal     the one halo exchange (ring-k strips; focal, contour, polygonize,
          proximity) + 3×3 DEM kernels (incl. TPI) + color-relief (apps/gdaldem.cpp)
warp      reprojection (full GRA kernel set, cutline), warp_custom, raster calc
transformer GCP polynomial / TPS / approximate transformers (alg/gdaltransformer.cpp)
srs       closed-form SRS: tmerc/UTM, Lambert conformal conic, Albers,
          polar stereographic, sinusoidal, equirectangular, 7-param
          Helmert datum shifts (PROJ analog)
dateline  antimeridian (WRAPDATELINE) splitting + seam tile cover
style     OGR feature style strings (PEN/BRUSH/SYMBOL/LABEL) parse + explode
png       pure numpy+zlib PNG codec (multimodal decode without PIL)
lineclip  LineString × polygon layer algebra             (ogrlayer.cpp Clip/Erase)
geomops   hull, simplify(+topology), centroid, buffer, distance, boundary, validity, force-casts
lineref   linear referencing                            (apps/ogrlineref.cpp)
quantize  median-cut palette + Floyd–Steinberg dither   (alg/gdalmediancut.cpp)
nearblack collar removal                                (apps/nearblack.cpp)
sinks     KML superoverlay serializer                   (frmts/kmlsuperoverlay/)
sqludfs   registered ST_* SQL functions                 (ogrsqlitesqlfunctions.cpp)
ann       IVF approximate nearest neighbors + distributed k-means training
textops   MinHash/SimHash(16+64-bit, banded pairs)/Jaccard/lang-id/quality/fingerprints
multimodal binary media columns; PNG decode real, exotic formats stubbed
streaming Structured-Streaming seam + stateful dedup
vector    spatial filters, extents, dissolve (disjoint + true union)
pipeline  stage runner: lineage/metrics manifest + resume
oracle    single-process pure-Python reference implementation
session   SparkSession builder tuned for this engine
"""

__version__ = "0.1.0"
