"""One-vs-rest / one-vs-one multiclass distribution (reference
examples/multiclass/basic_usage.py): one grid task per class (pair)."""

from pyspark.sql import SparkSession

from skdist_spark.ml import LogisticRegression, accuracy_score
from skdist_spark.operators import DistOneVsOneClassifier, DistOneVsRestClassifier

from _data import blobs

spark = SparkSession.builder.master("local[4]").getOrCreate()
X, y = blobs(n_classes=4)

ovr = DistOneVsRestClassifier(LogisticRegression(), sc=spark)
ovr.fit(X, y)
print("OvR accuracy:", accuracy_score(y, ovr.predict(X)))

ovo = DistOneVsOneClassifier(LogisticRegression(), sc=spark)
ovo.fit(X, y)
print("OvO accuracy:", accuracy_score(y, ovo.predict(X)))
